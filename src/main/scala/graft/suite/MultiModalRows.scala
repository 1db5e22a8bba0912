package graft.suite

import graft.core.Tables._
import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** The multimodal rows: binary payloads, image, video and audio
  * near-dedup.
  * One [[QuerySpec]] per row: its builder beside its DuckDB oracle SQL.
  */
private[graft] object MultiModalRows {

  val specs: Seq[QuerySpec] = Seq(
    // ---- multimodal binary columns --------------------------------
    QuerySpec("q49_binary_sniff", (s, d) =>
      // Opaque binary column plumbing: byte length + magic-prefix hex.
      documents(s, d)
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          hex(substring(col("payload"), 1, 4)).as("magic"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         hex(encode(substr(text, 1, 4))) AS magic
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q54_format_sniff", (s, d) => {
      // Multimodal: magic-byte format sniff over constructed binary
      // payloads (png/jpeg prefixes spliced onto text bytes).
      val pngPrefix = lit(Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A))
      val jpegPrefix = lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte))
      documents(s, d)
        .withColumn("payload",
          when(col("doc_id") % 3 === 0, concat(pngPrefix, col("text").cast("binary")))
            .when(col("doc_id") % 3 === 1, concat(jpegPrefix, col("text").cast("binary")))
            .otherwise(col("text").cast("binary")))
        .select(col("doc_id"),
          graft.multimodal.MultiModal.sniffFormat(col("payload")).as("format"),
          length(col("payload")).as("n_bytes"))
        .orderBy(col("doc_id"))
    },
      """WITH b AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN '\x89\x50\x4E\x47\x0D\x0A\x1A\x0A'::BLOB || encode(text)
                WHEN doc_id % 3 = 1 THEN '\xFF\xD8\xFF\xE0'::BLOB || encode(text)
                ELSE encode(text) END AS payload FROM documents)
         SELECT doc_id,
           CASE WHEN left(hex(payload), 16) = '89504E470D0A1A0A' THEN 'png'
                WHEN left(hex(payload), 6) = 'FFD8FF' THEN 'jpeg'
                WHEN left(hex(payload), 8) = '47494638' THEN 'gif'
                ELSE 'unknown' END AS format,
           octet_length(payload) AS n_bytes
         FROM b ORDER BY doc_id"""),

    // ---- image, video and audio near-dedup ------------------------
    QuerySpec("q140_image_dhash_dedup", (s, d) => {
      // Multimodal near-dedup: per-asset 64-bit perceptual dHash
      // (decode -> gray -> difference hash) fed into the SAME generic
      // two-level Hamming band join the text SimHash family uses —
      // image dedup as a first-class banded-join member, zero new join
      // code. Verified q62-style: banded == brute force over the SAME
      // engine-computed hashes on a bounded deterministic sub-corpus,
      // exactly-once emission pinned separately. Assets are documents'
      // bytes through the locality-preserving ByteGrayDecoder; 50
      // payload-identical clones (asset_id + 10M) plant distance-0
      // pairs at every SF, near-dup document texts plant the
      // small-Hamming tail. The brute predicate is written
      // bit_count(~(a^b)) >= 61 so HammingBandJoinRule cannot re-plan
      // the reference into the banding it verifies. Cost note: the
      // locality-preserving text-byte decode concentrates dHashes
      // (videoNearDuplicates' cost contract — q143 switched to the
      // hash-chain decode for exactly this), so this row's banded join
      // carries a genuinely denser-than-uniform bucket profile
      // (sf10m warm ~40 s); kept BECAUSE the near-pair tail is the
      // property under test here.
      import s.implicits._
      val cap = 5000L
      val docs = documents(s, d)
      val base = docs.select(col("doc_id"), col("text"))
      val clones = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val assets = base.unionByName(clones)
        .select(col("doc_id").as("asset_id"), lit("image").as("kind"),
          col("text").cast("binary").as("payload"),
          lit(0.0).as("duration_sec"))
        .as[graft.multimodal.MediaAsset]
      val dec = new graft.multimodal.ByteGrayDecoder(16, 16)
      val dh = graft.core.Caches.persistTracked(
        graft.multimodal.MultiModal.imageDHash(assets, dec))
      def inS(c: org.apache.spark.sql.Column) = c < cap || c >= 10000000L
      val bandedAll = Dedup.hammingNearDuplicates(dh, "dhash", "asset_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val banded = bandedAll.where(inS(col("id_a")) && inS(col("id_b")))
      val sub = dh.where(inS(col("asset_id")))
      val a = sub.select(col("asset_id").as("id_a"), col("dhash").as("h_a"))
      val b = sub.select(col("asset_id").as("id_b"), col("dhash").as("h_b"))
      val brute = a.join(b,
          bit_count(bitwise_not(col("h_a").bitwiseXOR(col("h_b")))) >= lit(61) &&
            col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val cmp = banded.withColumn("in_banded", lit(1))
        .join(brute.withColumn("in_brute", lit(1)), Seq("id_a", "id_b"), "full")
        .agg(
          coalesce(every(col("in_banded").isNotNull && col("in_brute").isNotNull),
            lit(true)).as("banded_equals_brute"),
          (count(lit(1)) > 0).as("has_pairs"))
      val dup = bandedAll.agg(
        (count_distinct(struct(col("id_a"), col("id_b"))) === count(lit(1)))
          .as("banded_distinct"))
      assets.toDF().agg(count(lit(1)).as("n_assets"))
        .crossJoin(broadcast(cmp)).crossJoin(broadcast(dup))
    },
      // q140: the dHash values have no DuckDB mirror (engine-computed
      // perceptual hashes), so the envelope pins the agreement booleans
      // TRUE and the recomputable asset count (docs + doc_id<50 clones).
      """SELECT (SELECT count(*) FROM documents) +
                (SELECT count(*) FROM documents WHERE doc_id < 50) AS n_assets,
         TRUE AS banded_equals_brute, TRUE AS has_pairs, TRUE AS banded_distinct"""),
    QuerySpec("q143_video_frame_dedup", (s, d) => {
      // Scene-level video near-dedup: per-frame perceptual dHashes
      // through the SAME generic Hamming band join (q140's family),
      // aggregated to video pairs sharing >= 2 near-dup frames — the
      // footage-reuse/partial-copy operator content hashing can't see.
      // q62 discipline: banded operator over the FULL corpus == brute
      // force over the same engine-computed frame hashes on a bounded
      // deterministic sub-corpus; 50 payload-identical clones plant
      // all-frames-shared pairs at every SF. Durations derive from
      // n_chars (2-4 frames each), so frame volume rides corpus size
      // linearly.
      import s.implicits._
      val cap = 2000L
      val docs = documents(s, d)
      val base = docs.select(col("doc_id"), col("text"), col("n_chars"))
      val clones = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"), col("n_chars"))
      val assetsDf = base.unionByName(clones)
        .select(col("doc_id").as("asset_id"), lit("video").as("kind"),
          col("text").cast("binary").as("payload"),
          (lit(6.0) + least(col("n_chars"), lit(700)).cast("double") / 50.0)
            .as("duration_sec"))
      val assets = assetsDf.as[graft.multimodal.MediaAsset]
      // Hash-chain stub decode (natural-image-like frame diversity):
      // raw text-bytes-as-pixels measured DEGENERATE at scale — their
      // dHashes concentrate so densely that the true near-dup pair set
      // goes quadratic (sf10m banded join ~900 s of genuine matches);
      // see videoNearDuplicates' cost contract.
      val dec = new graft.multimodal.HashGrayFrameDecoder(16, 16)
      val bandedAll = graft.multimodal.MultiModal.videoNearDuplicates(
        assets, dec, everySec = 5.0, maxHamming = 3, minSharedFrames = 2)
      def inS(c: org.apache.spark.sql.Column) = c < cap || c >= 10000000L
      val banded = bandedAll.where(inS(col("video_a")) && inS(col("video_b")))
      // Brute arm: same deterministic frame hashes on the sub-corpus,
      // all-pairs Hamming written bit_count(~xor) >= 61 (rule-proof).
      val subFrames = graft.core.Caches.persistTracked(
        graft.multimodal.MultiModal.frameDHashes(
          assetsDf.where(inS(col("asset_id"))).as[graft.multimodal.MediaAsset],
          dec, everySec = 5.0))
      val fa = subFrames.select(col("asset_id").as("va"), col("frame_idx").as("fa"),
        col("dhash").as("ha"))
      val fb = subFrames.select(col("asset_id").as("vb"), col("frame_idx").as("fb"),
        col("dhash").as("hb"))
      val brute = fa.join(fb,
          bit_count(bitwise_not(col("ha").bitwiseXOR(col("hb")))) >= lit(61) &&
            (col("va") * 1000000L + col("fa")) < (col("vb") * 1000000L + col("fb")) &&
            col("va") =!= col("vb"))
        .select(least(col("va"), col("vb")).as("video_a"),
          greatest(col("va"), col("vb")).as("video_b"))
        .groupBy(col("video_a"), col("video_b"))
        .agg(count(lit(1)).as("n_frame_pairs"))
        .where(col("n_frame_pairs") >= 2)
      val cmp = banded.withColumn("in_banded", lit(1))
        .join(brute.withColumn("in_brute", lit(1)),
          Seq("video_a", "video_b", "n_frame_pairs"), "full")
        .agg(
          coalesce(every(col("in_banded").isNotNull && col("in_brute").isNotNull),
            lit(true)).as("banded_equals_brute"),
          (count(lit(1)) > 0).as("has_pairs"))
      assetsDf.agg(count(lit(1)).as("n_videos")).crossJoin(broadcast(cmp))
    },
      // q143: frame-hash values have no DuckDB mirror — envelope pins the
      // banded-vs-brute agreement and the recomputable video count.
      """SELECT (SELECT count(*) FROM documents) +
                (SELECT count(*) FROM documents WHERE doc_id < 50) AS n_videos,
         TRUE AS banded_equals_brute, TRUE AS has_pairs"""),
    QuerySpec("q146_audio_fingerprint_dedup", (s, d) => {
      // Audio near-dedup: Haitsma-Kalker band-energy-difference
      // fingerprints per window, matched through the SAME generic
      // Hamming band join as images (q140) and video frames (q143) —
      // the multimodal triple closes on one join. q62/q143 discipline:
      // banded operator over the FULL corpus == brute force over the
      // same engine-computed fingerprints on a bounded deterministic
      // sub-corpus; 50 payload-identical clones plant all-windows-
      // shared pairs at every SF.
      import s.implicits._
      val cap = 2000L
      val docs = documents(s, d)
      val base = docs.select(col("doc_id"), col("text"), col("n_chars"))
      val clones = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
          col("n_chars"))
      val assetsDf = base.unionByName(clones)
        .select(col("doc_id").as("asset_id"), lit("audio").as("kind"),
          col("text").cast("binary").as("payload"),
          (lit(6.0) + least(col("n_chars"), lit(700)).cast("double") / 50.0)
            .as("duration_sec"))
      val assets = assetsDf.as[graft.multimodal.MediaAsset]
      val dec = new graft.multimodal.HashPcmDecoder
      // ONE fingerprint pass (round 14): the per-window decode is the
      // row's dominant cost and both arms consumed it — the banded arm
      // internally, the brute arm on the sub-corpus (a per-asset-
      // deterministic derivation, so filtering the shared relation is
      // value-identical to re-deriving from filtered assets; pinned in
      // MultiModalSpec). Persisted once, handed to both.
      val allFps = graft.core.Caches.persistTracked(
        graft.multimodal.MultiModal.audioFingerprints(
          assets, dec, sampleRate = 512, frameLen = 512, hop = 1280))
      val bandedAll = graft.multimodal.MultiModal.audioNearDuplicates(
        assets, dec, maxHamming = 3, minSharedWindows = 2,
        sampleRate = 512, frameLen = 512, hop = 1280, fpsOpt = Some(allFps))
      val inS = (c: Column) => c < cap || (c >= 10000000L && c < 10000000L + cap)
      val banded = bandedAll.where(inS(col("audio_a")) && inS(col("audio_b")))
      // Brute arm: same deterministic fingerprints on the sub-corpus,
      // all-pairs Hamming written bit_count(~xor) >= 61 (rule-proof).
      val subFps = allFps.where(inS(col("asset_id")))
      val fa = subFps.select(col("asset_id").as("va"), col("window_idx").as("wa"),
        col("fp").as("ha"))
      val fb = subFps.select(col("asset_id").as("vb"), col("window_idx").as("wb"),
        col("fp").as("hb"))
      val brute = fa.join(fb,
          bit_count(bitwise_not(col("ha").bitwiseXOR(col("hb")))) >= lit(61) &&
            (col("va") * 1000000L + col("wa")) < (col("vb") * 1000000L + col("wb")) &&
            col("va") =!= col("vb"))
        .select(least(col("va"), col("vb")).as("audio_a"),
          greatest(col("va"), col("vb")).as("audio_b"))
        .groupBy(col("audio_a"), col("audio_b"))
        .agg(count(lit(1)).as("n_window_pairs"))
        .where(col("n_window_pairs") >= 2)
      val cmp = banded.withColumn("in_banded", lit(1))
        .join(brute.withColumn("in_brute", lit(1)),
          Seq("audio_a", "audio_b", "n_window_pairs"), "full")
        .agg(
          coalesce(every(col("in_banded").isNotNull && col("in_brute").isNotNull),
            lit(true)).as("banded_equals_brute"),
          (count(lit(1)) > 0).as("has_pairs"))
      assetsDf.agg(count(lit(1)).as("n_audios")).crossJoin(broadcast(cmp))
    },
      // q146: fingerprint values have no DuckDB mirror — envelope pins
      // the banded-vs-brute agreement and the recomputable clip count
      // (the q143 discipline, audio for video).
      """SELECT (SELECT count(*) FROM documents) +
                (SELECT count(*) FROM documents WHERE doc_id < 50) AS n_audios,
         TRUE AS banded_equals_brute, TRUE AS has_pairs"""),
  )
}
