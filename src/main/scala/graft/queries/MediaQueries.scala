package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators._

/** T3 multimodal queries: binary payload metadata and content-hash
  * near-dup detection over real image, audio and video containers
  * (`Multimodal`). */
object MediaQueries {
  import Common._

  /** Shared CTE chain of the image/video grid-hash oracles
    * (q198/q199/q204/q205): the
    * [[graft.operators.Multimodal.pngFixture]] 9×8 block grid restated
    * as md5 arithmetic under `prefix` (ids ≡ 1 mod 10 reuse id−1's
    * blocks with the top row's first three twisted), then the
    * gradient-bit assembly — bit r·8+c set iff cell (r, c+1) > (r, c).
    * DuckDB refuses `1 << 63` (signed overflow), so bit 63 is the
    * min-long literal; bit_or keeps the accumulation in BIGINT. Ends
    * with `h(doc_id, dhash)`. */
  private def gridHashCtes(prefix: String): String = {
    val vSeed = sqlHexLong(
      s"concat('$prefix:', d.doc_id - (CASE WHEN d.doc_id % 10 = 1 THEN 1 ELSE 0 END), ':', r.r, ':', c.c)")
    val vTwist = sqlHexLong(s"concat('$prefix:', d.doc_id, ':twist:', c.c)")
    s"""cells AS (
         SELECT d.doc_id, r.r, c.c,
           CASE WHEN d.doc_id % 10 = 1 AND r.r = 0 AND c.c <= 2
             THEN $vTwist % 256 ELSE $vSeed % 256 END AS v
         FROM documents d, range(8) r(r), range(9) c(c)),
       h AS (
         SELECT a.doc_id,
           bit_or(CASE WHEN b.v > a.v THEN
               CASE WHEN a.r * 8 + a.c = 63 THEN (-9223372036854775807 - 1)
                 ELSE (CAST(1 AS BIGINT) << CAST(a.r * 8 + a.c AS INT)) END
             ELSE 0 END) AS dhash
         FROM cells a JOIN cells b
           ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
         WHERE a.c <= 7 GROUP BY 1)"""
  }
  private def imageDHashCtes: String = gridHashCtes("img")

  /** A [[graft.operators.Multimodal.walkBit]] walk grid as arithmetic:
    * the planted gradient bits ARE the hash
    * (`md5("<prefix>:<seed>:<r>:<c>") % 2`), no pixel model — the
    * walk-fixture sibling of [[gridHashCtes]], same twin/twist rule.
    * Shared by the MJPEG ("mjb") and H.264-I_PCM ("avp") fixtures.
    * Ends with `h(doc_id, dhash)`. */
  private def walkHashCtes(prefix: String): String = {
    val bSeed = sqlHexLong(
      s"concat('$prefix:', d.doc_id - (CASE WHEN d.doc_id % 10 = 1 THEN 1 ELSE 0 END), ':', r.r, ':', c.c)")
    val bTwist = sqlHexLong(s"concat('$prefix:', d.doc_id, ':twist:', c.c)")
    s"""bits AS (
         SELECT d.doc_id, r.r, c.c,
           CASE WHEN d.doc_id % 10 = 1 AND r.r = 0 AND c.c <= 2
             THEN $bTwist % 2 ELSE $bSeed % 2 END AS b
         FROM documents d, range(8) r(r), range(8) c(c)),
       h AS (
         SELECT doc_id,
           bit_or(CASE WHEN b = 1 THEN
               CASE WHEN r * 8 + c = 63 THEN (-9223372036854775807 - 1)
                 ELSE (CAST(1 AS BIGINT) << CAST(r * 8 + c AS INT)) END
             ELSE 0 END) AS dhash
         FROM bits GROUP BY 1)"""
  }

  /** The [[graft.operators.Multimodal.wavFixture]] 65-segment envelope
    * as arithmetic: amplitudes `md5("aud:<seed>:<s>") % 32768`, bit s
    * iff segment s+1 is strictly louder — the 1-D sibling of
    * [[gridHashCtes]]. Ends with `h(doc_id, dhash)`. */
  private def audioHashCtes: String = {
    val vSeed = sqlHexLong(
      "concat('aud:', d.doc_id - (CASE WHEN d.doc_id % 10 = 1 THEN 1 ELSE 0 END), ':', s.s)")
    val vTwist = sqlHexLong("concat('aud:', d.doc_id, ':twist:', s.s)")
    s"""cells AS (
         SELECT d.doc_id, s.s,
           CASE WHEN d.doc_id % 10 = 1 AND s.s <= 2
             THEN $vTwist % 32768 ELSE $vSeed % 32768 END AS v
         FROM documents d, range(65) s(s)),
       h AS (
         SELECT a.doc_id,
           bit_or(CASE WHEN b.v > a.v THEN
               CASE WHEN a.s = 63 THEN (-9223372036854775807 - 1)
                 ELSE (CAST(1 AS BIGINT) << CAST(a.s AS INT)) END
             ELSE 0 END) AS dhash
         FROM cells a JOIN cells b
           ON a.doc_id = b.doc_id AND b.s = a.s + 1
         WHERE a.s <= 63 GROUP BY 1)"""
  }

  /** The q49-shape band/bucket/Hamming pair SQL over a `h(doc_id,
    * dhash)` CTE chain — the oracle twin of the shared Spark banding
    * ([[graft.operators.Multimodal.imageNearDup]] and siblings). */
  private def bandPairsSql(hashCtes: String): String = {
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, dhash, $b AS band_idx, (dhash >> ${b * 16}) & 65535 AS band_val FROM h")
      .mkString(" UNION ALL ")
    s"""WITH $hashCtes,
       banded AS ($bands),
       ok AS (SELECT band_idx, band_val FROM banded
              GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $DefaultMaxBucket)
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
       FROM banded a JOIN banded b
         ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
       JOIN ok ON a.band_idx = ok.band_idx AND a.band_val = ok.band_val
       WHERE bit_count(xor(a.dhash, b.dhash)) <= 3"""
  }

  val all: Seq[Query] = Seq(
    // compressed-video metadata round-trip: a REAL avc1 MP4 is muxed
    // per doc (Mp4Mux — profile/level/mb-grid/crop/frames from doc_id
    // arithmetic, entry dims a constant decoy), then parsed back
    // through the real box walk + avcC + SPS Exp-Golomb reader; the
    // oracle states the same arithmetic directly, so a single flipped
    // bit in either the writer or the parser hash-mismatches
    Query("q151_avc_meta", (s, d) => {
      import s.implicits._
      val payloads = Tables.documents(s, d).select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, operators.Mp4Mux.avc1Fixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.videoTrackMeta(s, payloads, "doc_id").toDF()
    },
      // the muxed fixture's parameters restated as arithmetic: width/
      // height are SPS mb-grid minus the 4:2:0 crop units (×2 per crop
      // sample), the declared 640×360 entry decoy must NOT surface
      """SELECT doc_id, 'avc1' AS codec,
         CAST((10 + doc_id % 30) * 16
           - CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 0 END AS BIGINT) AS width,
         CAST((8 + doc_id % 20) * 16
           - CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END AS BIGINT) AS height,
         CAST(CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END
           AS BIGINT) AS avc_profile,
         CAST(CASE doc_id % 4 WHEN 0 THEN 30 WHEN 1 THEN 31 WHEN 2 THEN 40
           ELSE 41 END AS BIGINT) AS avc_level,
         CAST(1 + doc_id % 3 AS BIGINT) AS n_frames,
         CAST((1 + doc_id % 3) * 1000 AS BIGINT) AS duration_ms
         FROM documents"""),

    // multimodal payload metadata (binary column plumbing)
    Query("q33_multimodal_meta", (s, d) =>
      Multimodal.payloadMeta(wide(Tables.documents(s, d)), "text"),
      s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash,
         ${sqlHexLong("text")} % 640 AS fake_width,
         ${sqlHexLong("concat('1:', text)")} % 480 AS fake_height,
         octet_length(encode(text)) // 1024 + 1 AS fake_n_frames FROM documents"""),

    // image-content dedup, hash half: every doc's payload is a REAL
    // PNG muxed from doc-id arithmetic (Multimodal.pngFixture — ids
    // ≡ 1 mod 10 are planted near-dup twins of id−1), decoded back
    // through javax.imageio, area-averaged to the 9×8 grid, and
    // gradient-hashed from ACTUAL pixels; the oracle restates the
    // block grid and the bit assembly as md5 arithmetic, so a flipped
    // bit anywhere in mux, decode, resample, or hash mismatches — the
    // q151 synthesize→recover pattern applied to pixels
    Query("q198_image_dhash", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.pngFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.imageDHashes(s, payloads, "doc_id")
    },
      // the pngFixture block grid + gradient-bit assembly as arithmetic
      s"""WITH $imageDHashCtes
         SELECT doc_id, dhash FROM h"""),

    // image-content dedup, pair half (LAION-class): q49's pigeonhole
    // banding machinery on pixel-derived bits — 4 × 16-bit bands,
    // degenerate buckets capped, exact Hamming ≤ 3 fused into the
    // bucket pair loop; the planted fixture twins fire, unrelated
    // images sit ~32 bits apart
    Query("q199_image_neardup", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.pngFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.imageNearDup(s, payloads, "doc_id",
        maxBucket = DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast(LongType).as("hamming"))
    },
      // q198's hash CTE + the q49 band/bucket/Hamming pair machinery
      bandPairsSql(imageDHashCtes)),

    // audio-content dedup, hash half: every doc's payload is a REAL
    // 16-bit PCM WAV muxed from doc-id arithmetic (Multimodal
    // .wavFixture), decoded back through javax.sound.sampled, and
    // envelope-hashed from ACTUAL samples — PCM normalization is the
    // exact dyadic A/32768, so the oracle restates the 65-segment
    // loudness contour without decoding anything
    Query("q202_audio_envhash", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.wavFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.audioEnvelopeHashes(s, payloads, "doc_id")
    },
      // the wavFixture envelope restated as arithmetic (1-D gridHashCtes)
      s"""WITH $audioHashCtes
         SELECT doc_id, dhash AS ahash FROM h"""),

    // audio-content dedup, pair half: the q199 pigeonhole banding on
    // envelope bits — same-recording-many-encodings dedup
    Query("q203_audio_neardup", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.wavFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.audioNearDup(s, payloads, "doc_id",
        maxBucket = DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast(LongType).as("hamming"))
    },
      // audio envelope hash + the shared band/bucket/Hamming machinery
      bandPairsSql(audioHashCtes)),

    // video-content dedup, hash half: a REAL RIFF/AVI container per doc
    // (Multimodal.aviFixture — frame 0 the content grid, frame 1 an
    // all-docs-identical decoy), demuxed through the real movi chunk
    // walk, first key frame decoded and dHashed; selecting the wrong
    // frame hashes every doc identically and mismatches loudly
    Query("q204_video_dhash", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.aviFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.videoFrameHashes(s, payloads, "doc_id")
    },
      // the aviFixture frame-0 grid under the 'vid:' prefix — the decoy
      // frame 1 must never surface (a wrong-frame demux hashes every doc
      // identically and zeroes the pair set)
      s"""WITH ${gridHashCtes("vid")}
         SELECT doc_id, dhash AS vhash FROM h"""),

    // video-content dedup, pair half: first-key-frame hash through the
    // banding — the cheap same-opening-reel duplicate heuristic
    Query("q205_video_neardup", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.aviFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.videoNearDup(s, payloads, "doc_id",
        maxBucket = DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast(LongType).as("hamming"))
    },
      // first-key-frame hash + the shared band/bucket/Hamming machinery
      bandPairsSql(gridHashCtes("vid"))),

    // MJPEG-in-MP4 pixel decode, hash half: every doc's payload is a
    // real ISO-BMFF container whose samples are REAL JPEGs
    // (Multimodal.mjpegFixture) — demuxed through the actual
    // stsz/stsc/stco sample-table walk (mp4VideoTrack), first sample
    // decoded by javax.imageio, dHash64 on actual decoded pixels. The
    // fixture plants gradient BITS as a ±14 brightness walk (lossy
    // JPEG can't be value-exact like the PNG fixtures, but quality-.95
    // DC error ≲2 never flips a 14-level step), so the oracle restates
    // the hash as pure md5%2 bit assembly; the all-docs-identical
    // decoy sample 1 makes a wrong-sample demux regression loud
    Query("q210_mjpeg_dhash", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.mjpegFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.videoFrameHashes(s, payloads, "doc_id")
    },
      // the mjpegFixture walk bits reassembled directly — the planted
      // gradient IS the hash, the JPEG round-trip must recover it
      // bit-exactly; the decoy sample 1 must never surface
      s"""WITH ${walkHashCtes("mjb")}
         SELECT doc_id, dhash AS vhash FROM h"""),

    // MJPEG-in-MP4 content dedup, pair half: the recovered first-frame
    // hashes through the shared band/bucket/Hamming machinery
    Query("q211_mjpeg_neardup", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.mjpegFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.videoNearDup(s, payloads, "doc_id",
        maxBucket = DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast(LongType).as("hamming"))
    },
      // MJPEG first-sample hash + the shared band/bucket/Hamming machinery
      bandPairsSql(walkHashCtes("mjb"))),

    // Matroska video content dedup: every doc's payload is a REAL MKV
    // (MkvMux — EBML header + Segment/Tracks/Cluster, V_MJPEG track)
    // whose SimpleBlocks are real JPEGs; demuxed through the actual
    // EBML walk (VINT ids/sizes, TrackEntry select, per-cluster
    // SimpleBlock spans), first block decoded by javax.imageio, dHash
    // on actual pixels, banded Hamming pairs — the last container
    // family without a dependency-free walk, closed (round 12). The
    // all-docs-identical decoy block 1 makes a wrong-block demux
    // regression loud; oracle restates the walk bits as md5%2 assembly
    Query("q222_mkv_neardup", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.mkvFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.videoNearDup(s, payloads, "doc_id",
        maxBucket = DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast(LongType).as("hamming"))
    },
      // MKV first-block walk bits + the shared band/bucket/Hamming
      // machinery — the EBML demux must hand block 0 to the JPEG decoder
      bandPairsSql(walkHashCtes("mkv"))),

    // compressed-codec video content dedup: every doc's payload is a
    // REAL conformant H.264 stream — an avc1 MP4 whose first sample is
    // an IDR access unit of all-I_PCM macroblocks (the spec's own
    // entropy-free escape hatch, ITU-T H.264 §7.3.5), muxed per doc
    // with the MJPEG walk's ±14 gradient planted as per-macroblock
    // luma. The reader does the real work: length-prefixed NAL walk,
    // SPS/PPS/slice-header Exp-Golomb parse, per-MB PCM extraction →
    // DC means → dHash over the DC grid → banded Hamming pairs. PCM is
    // lossless, so the oracle restates the hash as pure md5%2 bit
    // assembly; the unparseable decoy sample 1 makes a wrong-sample
    // demux regression loud (dropped rows)
    Query("q221_avc_ipcm_neardup", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id =>
          (id, operators.Mp4Mux.avc1PcmFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.avcNearDup(s, payloads, "doc_id",
        maxBucket = DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast(LongType).as("hamming"))
    },
      // H.264 I_PCM DC-grid walk bits reassembled directly — the planted
      // gradient IS the hash; the slice/PCM parse must recover it
      // bit-exactly through the real NAL walk, then the shared
      // band/bucket/Hamming machinery pairs the twins
      bandPairsSql(walkHashCtes("avp"))),

    // q221 one honesty level up: the per-doc H.264 stream is ENTROPY
    // CODED — CAVLC Intra_16x16 DC-only macroblocks (coeff_token,
    // level prefix/suffix escape ladder, total_zeros) instead of the
    // spec's I_PCM escape hatch — so the reader's recovered DC grid
    // now rides a real entropy decode + §8.5.10 dequant + §8.3.3.1 DC
    // prediction chain. The fixture encoder reconstructs as it codes,
    // so decoded macroblock means equal the planted ±14 walk exactly
    // and the oracle stays pure md5%2 bit assembly (prefix "avq")
    Query("q223_avc_cavlc_neardup", (s, d) => {
      import s.implicits._
      val payloads = wide(Tables.documents(s, d).select(col("doc_id")))
        .as[Long]
        .mapPartitions(_.map(id =>
          (id, operators.Mp4Mux.avc1CavlcFixture(id))))
        .toDF("doc_id", "payload")
      Multimodal.avcNearDup(s, payloads, "doc_id",
        maxBucket = DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast(LongType).as("hamming"))
    },
      // CAVLC sibling: the entropy decode + dequant + DC-prediction chain
      // reconstructs the same planted walk exactly (encoder codes against
      // its own reconstruction), so the oracle is the identical md5%2 bit
      // assembly under the "avq" prefix
      bandPairsSql(walkHashCtes("avq")))
  )
}
