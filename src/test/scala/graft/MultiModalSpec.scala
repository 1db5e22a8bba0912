package graft

import graft.multimodal._
import org.apache.spark.sql.functions._

class MultiModalSpec extends SparkSpec {
  import spark.implicits._

  private val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
  private val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
  private val wav = "RIFF1234WAVE".getBytes("ASCII")
  private val mp4 = Array[Byte](0, 0, 0, 0x18) ++ "ftypmp42".getBytes("ASCII")

  private def assets = Seq(
    MediaAsset(1L, "image", png ++ "imagedata".getBytes, 0.0),
    MediaAsset(2L, "image", jpeg ++ "other".getBytes, 0.0),
    MediaAsset(3L, "audio", wav, 125.0),
    MediaAsset(4L, "video", mp4, 30.0),
    MediaAsset(5L, "unknown", "plain text".getBytes, 0.0))

  test("sniffFormat recognizes magic prefixes via builtin expressions") {
    val out = assets.toDS().toDF()
      .select(col("asset_id"), MultiModal.sniffFormat(col("payload")).as("f"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "png", 2L -> "jpeg", 3L -> "wav", 4L -> "mp4", 5L -> "unknown"))
  }

  test("decodeImages: deterministic stub decode with batch plumbing") {
    val feats = MultiModal.decodeImages(assets.toDS(), new StubImageDecoder, batchSize = 2)
      .collect().map(f => f.asset_id -> f).toMap
    assert(feats.size == 5)
    assert(feats(1L).channels == 3)
    assert(feats(1L).width >= 16 && feats(1L).width < 32)
    // determinism: re-run with different batch size, same features
    val again = MultiModal.decodeImages(assets.toDS(), new StubImageDecoder, batchSize = 3)
      .collect().map(f => f.asset_id -> f).toMap
    assert(feats(2L) == again(2L))
  }

  test("sampleFrames: fractional intervals count correctly, sub-second allowed") {
    val one = Seq(MediaAsset(9L, "video", Array[Byte](1), 10.0)).toDS().toDF()
    // 10s every 2.5s -> ceil(10/2.5) = 4 frames at 0, 2.5, 5, 7.5
    val frames = MultiModal.sampleFrames(one, everySec = 2.5)
      .select("frame_ts").as[Double].collect().sorted.toSeq
    assert(frames == Seq(0.0, 2.5, 5.0, 7.5))
    // sub-second interval must not divide by a truncated zero
    assert(MultiModal.sampleFrames(one, everySec = 0.5).count() == 20)
    intercept[IllegalArgumentException](MultiModal.sampleFrames(one, everySec = 0.0))
  }

  test("sampleFrames: one row per sampled timestamp, stills excluded") {
    val frames = MultiModal.sampleFrames(assets.toDS().toDF(), everySec = 60.0)
      .select("asset_id", "frame_idx", "frame_ts")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    // audio 125s -> ceil(125/60)=3 frames; video 30s -> 1 frame
    assert(frames == Seq((3L, 0L, 0.0), (3L, 1L, 60.0), (3L, 2L, 120.0), (4L, 0L, 0.0)))
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("dHash64: scale-invariant on a smooth image, brightness-invariant, edit-local") {
    def img(w: Int, h: Int): Array[Float] = Array.tabulate(w * h) { i =>
      val x = (i % w).toDouble / w; val y = (i / w).toDouble / h
      (0.5 + 0.4 * math.sin(6.0 * x) * math.cos(4.0 * y)).toFloat
    }
    val small = MultiModal.dHash64(img(18, 16), 18, 16)
    val large = MultiModal.dHash64(img(72, 64), 72, 64)
    assert(hamming(small, large) <= 4,
      s"2x/4x rescale of the same image moved ${hamming(small, large)} bits")
    // Brightness shift never changes any comparison outcome.
    val bright = MultiModal.dHash64(img(18, 16).map(_ + 0.07f), 18, 16)
    assert(bright == small)
    // A single-pixel edit is absorbed by area pooling (robustness)...
    val onePix = img(18, 16); onePix(40) = 1.0f
    assert(hamming(small, MultiModal.dHash64(onePix, 18, 16)) <= 2)
    // ...while a local 6x6 block edit moves a few bits in its cells
    // only (locality, not avalanche).
    val edited = img(18, 16)
    for (y <- 2 until 8; x <- 4 until 10) edited(y * 18 + x) = 0.0f
    val editHash = MultiModal.dHash64(edited, 18, 16)
    assert(hamming(small, editHash) >= 1 && hamming(small, editHash) <= 16,
      s"block edit moved ${hamming(small, editHash)} bits")
    intercept[IllegalArgumentException](MultiModal.dHash64(Array(0.1f), 2, 2))
  }

  test("byteGrayDecoder + imageDHash: identical payloads collide, near payloads near") {
    val text = "the quick brown fox jumps over the lazy dog, again and again " * 5
    val a = MediaAsset(1L, "image", text.getBytes, 0.0)
    val dup = MediaAsset(2L, "image", text.getBytes, 0.0)
    val near = MediaAsset(3L, "image", text.replace("lazy", "hazy").getBytes, 0.0)
    val far = MediaAsset(4L, "image", text.reverse.getBytes, 0.0)
    val dh = MultiModal.imageDHash(Seq(a, dup, near, far).toDS(),
        new ByteGrayDecoder(16, 16), batchSize = 2)
      .as[(Long, Long)].collect().toMap
    assert(dh.size == 4)
    assert(dh(1L) == dh(2L))
    assert(hamming(dh(1L), dh(3L)) <= 8, "locality-preserving decode lost")
    assert(hamming(dh(1L), dh(4L)) > 8, "reversed payload should not be near")
  }

  test("imageNearDuplicates == brute force over the same dHashes (banded join reuse)") {
    val rnd = new scala.util.Random(7)
    // 40 random payloads + planted exact dups + single-byte edits.
    val base = (1L to 40L).map(i =>
      MediaAsset(i, "image", Array.fill(256)(rnd.nextInt(256).toByte), 0.0))
    val planted = base.take(6).map(a =>
      MediaAsset(a.asset_id + 100, "image",
        { val p = a.payload.clone(); if (a.asset_id % 2 == 0) p(17) = 42; p }, 0.0))
    val assets = (base ++ planted).toDS()
    val dec = new ByteGrayDecoder(16, 16)
    val got = MultiModal.imageNearDuplicates(assets, dec, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    val hashes = MultiModal.imageDHash(assets, dec).as[(Long, Long)].collect().toSeq
    val expect = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && hamming(ha, hb) <= 3
    } yield (ia, ib)).sorted
    assert(got == expect)
    assert(expect.nonEmpty, "fixture must plant at least one near-dup pair")
    assert(got.size == got.distinct.size, "exactly-once emission")
  }

  test("videoNearDuplicates == brute force over the same frame hashes; clones share all frames") {
    val rnd = new scala.util.Random(11)
    def vid(id: Long, payload: Array[Byte], dur: Double) =
      MediaAsset(id, "video", payload, dur)
    val p1 = Array.fill(400)(rnd.nextInt(256).toByte)
    val p2 = Array.fill(400)(rnd.nextInt(256).toByte)
    val assets = Seq(
      vid(1L, p1, 100.0),            // 10 frames at everySec=10
      vid(2L, p1.clone(), 100.0),    // full clone: shares all 10 frames
      vid(3L, p2, 50.0),             // unrelated
      vid(4L, p1.clone(), 30.0),     // partial copy: first 3 frames
      vid(5L, Array[Byte](), 20.0),  // empty payload
      vid(6L, p2.clone(), 0.0))      // still: no frames
      .toDS()
    val dec = new ByteGrayFrameDecoder(16, 16)
    val got = MultiModal.videoNearDuplicates(assets, dec, everySec = 10.0,
        maxHamming = 3, minSharedFrames = 2)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // Brute force from the same frame hashes.
    val fh = MultiModal.frameDHashes(assets, dec, 10.0)
      .as[(Long, Long, Long)].collect().toSeq
    val brute = (for {
      (va, fa, ha) <- fh; (vb, fb, hb) <- fh
      if va * 1000000L + fa < vb * 1000000L + fb && va != vb && hamming(ha, hb) <= 3
    } yield (math.min(va, vb), math.max(va, vb)))
      .groupBy(x => x).view.map { case (p, occ) => (p._1, p._2, occ.size.toLong) }
      .filter(_._3 >= 2L).toSeq.sorted
    assert(got == brute)
    assert(got.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 10L),
      s"full clone must share all frames: $got")
    assert(got.exists(p => p._1 == 1L && p._2 == 4L),
      s"partial copy must surface: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 5L || p._2 == 5L),
      s"unrelated/empty videos must not pair: $got")
  }

  test("audioFingerprints: deterministic, volume-invariant, windows sized by duration") {
    val rnd = new scala.util.Random(23)
    val p1 = Array.fill(300)(rnd.nextInt(256).toByte)
    val clips = Seq(
      MediaAsset(1L, "audio", p1, 10.0),
      MediaAsset(2L, "audio", p1.clone(), 10.0), // byte clone
      MediaAsset(3L, "audio", p1.clone(), 0.0))  // zero duration: no rows
      .toDS()
    val dec = new HashPcmDecoder
    val fps = MultiModal.audioFingerprints(clips, dec,
        sampleRate = 512, frameLen = 512, hop = 640)
      .as[(Long, Long, Long)].collect().toSeq
    val by = fps.groupBy(_._1)
    // 10s at 512 Hz = 5120 samples -> 1 + (5120-512)/640 = 8 windows,
    // fingerprints from window 1 -> 7 rows.
    assert(by(1L).size == 7, s"got ${by(1L).size} fingerprints")
    assert(by(1L).sortBy(_._2) == by(2L).sortBy(_._2).map(t => (1L, t._2, t._3)),
      "byte-identical clips must fingerprint identically")
    assert(!by.contains(3L))
    // Volume invariance of the REAL Haitsma-Kalker math: scaling PCM by
    // a positive constant scales every band energy by its square and
    // leaves every difference-of-differences sign unchanged.
    val loud = new AudioDecoder {
      override def decodePcm(payload: Array[Byte], n: Int): Array[Float] =
        dec.decodePcm(payload, n).map(_ * 7.5f)
    }
    val fpsLoud = MultiModal.audioFingerprints(clips, loud,
        sampleRate = 512, frameLen = 512, hop = 640)
      .as[(Long, Long, Long)].collect().toSeq
    assert(fpsLoud.sorted == fps.sorted,
      "fingerprints must be volume-invariant")
  }

  test("audioNearDuplicates == brute force over the same fingerprints; clones pair, strangers don't") {
    val rnd = new scala.util.Random(31)
    val p1 = Array.fill(300)(rnd.nextInt(256).toByte)
    val p2 = Array.fill(300)(rnd.nextInt(256).toByte)
    val clips = Seq(
      MediaAsset(1L, "audio", p1, 15.0),
      MediaAsset(2L, "audio", p1.clone(), 15.0), // clone: shares all windows
      MediaAsset(3L, "audio", p2, 15.0),         // unrelated
      MediaAsset(4L, "audio", p1.clone(), 6.0))  // shorter clone: prefix windows
      .toDS()
    val dec = new HashPcmDecoder
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val got = MultiModal.audioNearDuplicates(clips, dec,
        maxHamming = 3, minSharedWindows = 2,
        sampleRate = 512, frameLen = 512, hop = 640)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val fh = MultiModal.audioFingerprints(clips, dec,
        sampleRate = 512, frameLen = 512, hop = 640)
      .as[(Long, Long, Long)].collect().toSeq
    val brute = (for {
      (va, wa, ha) <- fh; (vb, wb, hb) <- fh
      if va * 1000000L + wa < vb * 1000000L + wb && va != vb && hamming(ha, hb) <= 3
    } yield (math.min(va, vb), math.max(va, vb)))
      .groupBy(x => x).view.map { case (p, occ) => (p._1, p._2, occ.size.toLong) }
      .filter(_._3 >= 2L).toSeq.sorted
    assert(got == brute)
    // Round 14: a precomputed-fingerprints handoff (fpsOpt) must be
    // value-identical to the internal derivation, and a subset FILTER
    // of the shared relation must equal recomputing from the filtered
    // assets (fingerprints are per-asset-deterministic) — the q146
    // one-pass contract.
    val shared = MultiModal.audioFingerprints(clips, dec,
      sampleRate = 512, frameLen = 512, hop = 640)
    val gotShared = MultiModal.audioNearDuplicates(clips, dec,
        maxHamming = 3, minSharedWindows = 2,
        sampleRate = 512, frameLen = 512, hop = 640, fpsOpt = Some(shared))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(gotShared == got, "fpsOpt handoff must be value-identical")
    val subRecomputed = MultiModal.audioFingerprints(
        clips.filter(col("asset_id") <= 2L), dec,
        sampleRate = 512, frameLen = 512, hop = 640)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val subFiltered = shared.where(col("asset_id") <= 2L)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(subFiltered == subRecomputed,
      "subset filter of shared fingerprints == recompute from filtered assets")
    assert(got.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 10L),
      s"full clone must share all windows: $got")
    assert(got.exists(p => p._1 == 1L && p._2 == 4L),
      s"shorter clone must surface on its prefix windows: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated clips must not pair: $got")
    graft.core.Caches.releaseAll()
  }

  test("null payloads are skipped, not NPEs, in every decode pipeline") {
    // The record survived ingestion, the bytes did not — a null payload
    // must yield no decoded rows anywhere (found by `Sweep null`:
    // an executor NPE deep into a 10M-asset scan otherwise).
    val text = "the quick brown fox jumps over the lazy dog " * 4
    val ok = MediaAsset(1L, "image", text.getBytes, 10.0)
    val hole = MediaAsset(2L, "image", null, 10.0)
    val ds = Seq(ok, hole).toDS()
    assert(MultiModal.imageDHash(ds, new ByteGrayDecoder(16, 16))
      .as[(Long, Long)].collect().map(_._1).toSeq == Seq(1L))
    assert(MultiModal.decodeImages(ds, new ByteGrayDecoder(16, 16))
      .collect().map(_.asset_id).toSeq == Seq(1L))
    assert(MultiModal.frameDHashes(ds, new HashGrayFrameDecoder(8, 8), everySec = 5.0)
      .select("asset_id").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(MultiModal.audioFingerprints(ds, new HashPcmDecoder,
        sampleRate = 256, frameLen = 256, hop = 640)
      .select("asset_id").distinct().as[Long].collect().toSeq == Seq(1L))
  }
}
