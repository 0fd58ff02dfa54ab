package graft.gates

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Dedup, Multimodal}

/** Audio and video payloads: WAV/PCM and FLAC decode, format sniffing,
  * audio fingerprints, frame sampling, video signatures and container
  * metadata.
  */
private[graft] object AvGates {

  // ---- Shared SQL of the audio oracles. Payload samples derive from the
  //      document's UTF-8 bytes (ASCII corpus), so an oracle recomputes
  //      them from text positions: channel c of frame f at byte offset
  //      f*bpf + c*(bits/8), little-endian signed, 8-bit with a 128
  //      midpoint. Each fragment is whole lines of the oracle SQL.

  /** The `d` CTE's frame layout: channels on doc_id%2, bits cycling
    * 16/8/24 on (doc_id//2)%3, bytes per frame.
    */
  private val AudioFrameCols =
    """  SELECT doc_id AS media_id, text,
      |    CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
      |    CAST(CASE WHEN (doc_id // 2) % 3 = 0 THEN 16
      |              WHEN (doc_id // 2) % 3 = 1 THEN 8 ELSE 24 END AS INTEGER) AS bits,
      |    (doc_id % 2 + 1) *
      |      (CASE WHEN (doc_id // 2) % 3 = 0 THEN 16
      |            WHEN (doc_id // 2) % 3 = 1 THEN 8 ELSE 24 END) // 8 AS bpf,""".stripMargin

  /** Channel `c`'s sample list `c<c>` over the nf frames (NULL for a bad
    * row, and channel 1 of a mono one).
    */
  private def audioSamples(c: Int): String = {
    def byte(o: Int) = s"ascii(substr(text, CAST(f*bpf+$o AS INTEGER), 1))"
    def le(o: Int, n: Int) = (0 until n).map { k =>
      (if (k == 0) "" else s"\n              + ${1 << (8 * k)} * ") + byte(o + k)
    }.mkString
    val nullWhen = if (c == 0) "bad" else "bad OR ch = 1"
    val (w16, w24) = (le(1 + 2 * c, 2), le(1 + 3 * c, 3))
    s"""    CASE WHEN $nullWhen THEN NULL
       |      ELSE list_transform(range(0, nf), f ->
       |        CASE bits
       |          WHEN 8 THEN ${byte(1 + c)} - 128
       |          WHEN 16 THEN CASE WHEN
       |              $w16 >= 32768
       |            THEN $w16 - 65536
       |            ELSE $w16 END
       |          ELSE CASE WHEN
       |              $w24 >= 8388608
       |            THEN $w24 - 16777216
       |            ELSE $w24 END
       |        END) END AS c$c""".stripMargin
  }

  /** Decoded geometry and per-channel sums and peaks, NULL on a bad row. */
  private val AudioStatCols =
    """  CASE WHEN bad THEN NULL ELSE ch END AS channels,
      |  CASE WHEN bad THEN NULL ELSE bits END AS bits,
      |  CASE WHEN bad THEN NULL ELSE nf END AS n_frames,
      |  CASE WHEN bad THEN NULL
      |       ELSE coalesce(CAST(list_sum(c0) AS BIGINT), 0) END AS sum_c0,
      |  CASE WHEN bad THEN NULL
      |       ELSE CAST(coalesce(list_max(list_transform(c0, v -> abs(v))), 0) AS INTEGER)
      |  END AS peak_c0,
      |  CASE WHEN bad OR ch = 1 THEN NULL
      |       ELSE coalesce(CAST(list_sum(c1) AS BIGINT), 0) END AS sum_c1,
      |  CASE WHEN bad OR ch = 1 THEN NULL
      |       ELSE CAST(coalesce(list_max(list_transform(c1, v -> abs(v))), 0) AS INTEGER)
      |  END AS peak_c1""".stripMargin

  /** Shared WAV/FLAC sample-recompute CTEs (d/d2/s) behind the
    * mixed-audio sniff and fingerprint oracles: the codec-blind
    * per-channel sample lists from text positions, with the 3-way
    * bits cycle and the corruption/format null arms. Margins are
    * stripped by the consuming entries after concatenation.
    */
  private val AudioMixedSampleCtes: String =
    s"""WITH d AS (
        |$AudioFrameCols
        |    CAST((doc_id // 4) % 4 AS INTEGER) AS fmt,
        |    (doc_id // 4) % 4 = 2 OR doc_id % 7 = 3 AS bad
        |  FROM documents
        |), d2 AS (
        |  SELECT media_id, text, ch, bits, bpf, fmt,
        |    CAST(length(text) // bpf AS BIGINT) AS nf,
        |    (bad OR (fmt = 1 AND length(text) // bpf = 0)) AS bad
        |  FROM d
        |), s AS (
        |  SELECT media_id, ch, bits, nf, fmt, bad,
        |${audioSamples(0)},
        |${audioSamples(1)}
        |  FROM d2
        |)"""

  val gates: Seq[Gate] = Seq(
    // ---- Audio (WAV/RIFF) container metadata: the AudioHeader walk over
    //      byte-exact synthetic containers ------------------------------
    Gate("q_multimodal_audio", (s, dir) => {
      Multimodal
        .extractAudioMeta(Multimodal.mediaTableEncodedAudio(Tables.documents(s, dir)))
        .orderBy("media_id")
    },
      // the engine builds the RIFF container and parses it back; the oracle
      // recomputes the expected parse from the same document fields (the
      // byte-walk itself is unit-tested on handcrafted containers)
      """WITH m AS (
        |  SELECT doc_id, source,
        |         CAST(1 + (doc_id % 2) AS INTEGER) AS ch,
        |         CAST(CASE WHEN (doc_id // 2) % 3 = 0 THEN 16
        |                   WHEN (doc_id // 2) % 3 = 1 THEN 8 ELSE 24 END AS INTEGER) AS bits,
        |         CAST(8000 * (1 + (n_chars % 4)) AS INTEGER) AS rate,
        |         octet_length(encode(text)) AS ds,
        |         doc_id % 3 AS fmt
        |  FROM documents
        |), c AS (
        |  SELECT *, rate * ((ch * bits) // 8) AS br FROM m
        |)
        |SELECT doc_id AS media_id,
        |       CAST(CASE WHEN fmt = 2 THEN ds ELSE 44 + ds END AS BIGINT) AS n_bytes,
        |       CASE WHEN fmt = 2 THEN 'unknown' ELSE 'wav' END AS format,
        |       CASE WHEN fmt <> 2 THEN ch END AS channels,
        |       CASE WHEN fmt <> 2 THEN rate END AS sample_rate,
        |       CASE WHEN fmt <> 2 THEN bits END AS bits_per_sample,
        |       CASE WHEN fmt <> 2 THEN CAST(floor(ds * 1000.0 / br) AS BIGINT) END AS duration_ms,
        |       source AS origin
        |FROM c ORDER BY media_id""".stripMargin),

    // ---- REAL sample decode: PCM WAV needs no codec — per-channel
    //      signed sums + peaks over the same byte-exact containers the
    //      AudioHeader gate parses (data chunk = the document bytes, so
    //      the oracle recomputes samples from text positions). Even docs
    //      are 16-bit mono (LE signed), odd are 8-bit stereo (unsigned,
    //      128 midpoint); raw-text rows decode to NULL ------------------
    Gate("q_multimodal_pcm", (s, dir) => {
      import graft.functions.PcmDecode
      Multimodal.mediaTableEncodedAudio(Tables.documents(s, dir))
        .select(col("media_id"), PcmDecode(col("payload")).as("__d"))
        .select(MediaGates.decoded("__d", "channels", "bits", "n_frames", "sum_c0", "peak_c0",
          "sum_c1", "peak_c1"): _*)
        .orderBy("media_id")
    },
      // PCM decode: data chunk = the document's UTF-8 bytes (ASCII corpus),
      // so samples recompute from text positions — channel c of frame f at
      // byte offset f*bpf + c*(bits/8); bits cycles 16/8/24 on (doc_id//2)%3
      // decoupled from the doc_id%2 channel selector (the FLAC-gate
      // convention; 24-bit closes the WAV/FLAC depth asymmetry, r18 #3).
      // Trailing partial frame ignored; zero frames still decode (sums 0)
      s"""WITH d AS (
         |$AudioFrameCols
         |    doc_id % 3 = 2 AS bad
         |  FROM documents
         |), d2 AS (
         |  SELECT media_id, text, ch, bits, bpf,
         |    CAST(length(text) // bpf AS BIGINT) AS nf, bad
         |  FROM d
         |), s AS (
         |  SELECT media_id, ch, bits, nf, bad,
         |${audioSamples(0)},
         |${audioSamples(1)}
         |  FROM d2
         |)
         |SELECT media_id,
         |$AudioStatCols
         |FROM s ORDER BY media_id""".stripMargin),

    // ---- FLAC decode, FROM SCRATCH: STREAMINFO walk, frame headers
    //      with verified CRC-8/CRC-16, constant/verbatim/fixed/LPC
    //      subframes, Rice residual partitions (both methods + raw
    //      escapes), all four stereo decorrelations. Samples derive
    //      from text bytes exactly like the PCM gate, and FLAC is
    //      LOSSLESS — so this codec gate is HASH-EXACT, no tolerance
    //      band. Raw-text rows and CRC-corrupted rows are the null mix -
    Gate("q_multimodal_flac", (s, dir) => {
      import graft.functions.FlacDecode
      Multimodal.mediaTableFlac(s, Tables.documents(s, dir))
        .select(col("media_id"), FlacDecode(col("payload")).as("__d"))
        .select(MediaGates.decoded("__d", "channels", "bits", "n_frames", "sum_c0", "peak_c0",
          "sum_c1", "peak_c1"): _*)
        .orderBy("media_id")
    },
      // FLAC decode: LOSSLESS, so the oracle recomputes the exact samples
      // from text positions (the q_multimodal_pcm convention — channel c
      // of frame f at byte offset f*bpf + c*(bits/8); 16-bit signed LE,
      // 8-bit byte-128); the Rice/LPC/CRC machinery in between is the
      // engine's own, pinned on hand-built fixtures in FlacDecodeSpec
      s"""WITH d AS (
         |$AudioFrameCols
         |    doc_id % 3 = 2 OR doc_id % 7 = 3 AS bad
         |  FROM documents
         |), d2 AS (
         |  SELECT media_id, text, ch, bits, bpf,
         |    CAST(length(text) // bpf AS BIGINT) AS nf,
         |    (bad OR length(text) // bpf = 0) AS bad
         |  FROM d
         |), s AS (
         |  SELECT media_id, ch, bits, nf, bad,
         |${audioSamples(0)},
         |${audioSamples(1)}
         |  FROM d2
         |)
         |SELECT media_id,
         |$AudioStatCols
         |FROM s ORDER BY media_id""".stripMargin),

    // ---- MIXED-FORMAT audio sniff: AudioDecode dispatches each payload
    //      by magic (RIFF/WAVE -> PcmDecode, fLaC -> FlacDecode,
    //      FORM/AIFF -> AiffDecode) and folds real per-channel sample
    //      statistics into one schema — the crawled-corpus audio
    //      operator, where no codec column exists. All three kernels
    //      are LOSSLESS, so unlike the image sniff this mixed gate is
    //      hash-exact end to end; raw text and format-appropriate
    //      corruptions are the null mix ------------------------------
    Gate("q_multimodal_audio_mixed", (s, dir) => {
      import graft.functions.AudioDecode
      Multimodal.mediaTableAudioMixed(s, Tables.documents(s, dir))
        .select(col("media_id"), AudioDecode(col("payload")).as("__d"))
        .select(MediaGates.decoded("__d", "format", "channels", "bits", "n_frames", "sum_c0",
          "peak_c0", "sum_c1", "peak_c1"): _*)
        .orderBy("media_id")
    },
      // mixed-audio sniff: identical sample recompute to the FLAC oracle
      // with the format decided by doc_id%3 (0 wav / 1 flac / 2 raw text)
      // and the corruption arm (doc_id%7=3) null for BOTH formats
      (AudioMixedSampleCtes + s"""
        |SELECT media_id,
        |  CASE WHEN bad THEN NULL
        |       WHEN fmt = 0 THEN 'wav' WHEN fmt = 1 THEN 'flac'
        |       ELSE 'aiff' END AS format,
        |$AudioStatCols
        |FROM s ORDER BY media_id""").stripMargin),

    // ---- PERCEPTUAL AUDIO FINGERPRINT: the audio sibling of dHash —
    //      the decoded sample stream's amplitude envelope in nWin floor
    //      windows, one bit per adjacent-window mean comparison
    //      (cross-multiplied, integer-exact → the fingerprint itself is
    //      oracle-gatable). Gate windows 9 (8 bits) over the mixed
    //      WAV/FLAC table — short clips (nf < 9), raw text and corrupt
    //      streams are the null mix; both codecs fingerprint the SAME
    //      derivation so the oracle is codec-blind ---------------------
    Gate("q_audio_fp", (s, dir) => {
      import graft.functions.AudioFingerprint
      Multimodal.mediaTableAudioMixed(s, Tables.documents(s, dir))
        .select(col("media_id"), AudioFingerprint(col("payload"), 9).as("__d"))
        .select(MediaGates.decoded("__d", "format", "n_frames", "fp"): _*)
        .orderBy("media_id")
    }, {
      // audio fingerprint: the oracle recomputes the envelope positionally
      // from the SAME codec-blind sample derivation (both formats are
      // lossless) — 9 floor windows over the channel-summed mix, one bit
      // per adjacent-window cross-multiplied mean comparison
      val winCols = (0 to 8).map(k =>
        s"""coalesce(list_sum(list_transform(list_filter(range(0, nf),
           |      f -> (f*9)//nf = $k), f -> abs(mix[CAST(f+1 AS INTEGER)]))), 0) AS s$k,
           |    len(list_filter(range(0, nf), f -> (f*9)//nf = $k)) AS n$k""".stripMargin)
        .mkString(",\n    ")
      val bitTerms = (0 to 7).map(k =>
        s"CASE WHEN s${k + 1} * n$k > s$k * n${k + 1} THEN ${1L << k} ELSE 0 END")
        .mkString("\n    + ")
      (AudioMixedSampleCtes + s"""
        |, m AS (
        |  SELECT media_id, fmt, nf, (bad OR nf < 9) AS bad,
        |    CASE WHEN bad THEN NULL
        |      ELSE list_transform(range(0, nf), f ->
        |        c0[CAST(f+1 AS INTEGER)]
        |        + CASE WHEN ch = 2 THEN c1[CAST(f+1 AS INTEGER)] ELSE 0 END) END AS mix
        |  FROM s
        |), w AS (
        |  SELECT media_id, fmt, nf, bad,
        |    $winCols
        |  FROM m
        |)
        |SELECT media_id,
        |  CASE WHEN bad THEN NULL
        |       WHEN fmt = 0 THEN 'wav' WHEN fmt = 1 THEN 'flac'
        |       ELSE 'aiff' END AS format,
        |  CASE WHEN bad THEN NULL ELSE nf END AS n_frames,
        |  CASE WHEN bad THEN NULL ELSE CAST($bitTerms AS BIGINT) END AS fp
        |FROM w ORDER BY media_id""").stripMargin
    }),

    // ---- AUDIO NEAR-DUP PAIRS over the 65-window / 64-bit production
    //      fingerprint: the shared 16-bit quarter-block miner
    //      (pigeonhole + exact popcount). The table plants CROSS-CODEC
    //      near-dups — base clip as PCM WAV, one-sample-bumped copy as
    //      FLAC (one envelope window moves → <= 2 bits) — so the gate
    //      pins both the miner and the lossless cross-codec invariance;
    //      the oracle re-mines from the sample derivation: windows,
    //      bits, band keys, self-join, hamming filter ------------------
    Gate("q_audio_fp_dup", (s, dir) => {
      Dedup.audioFpPairs(
          Multimodal.mediaTableAudioPairs(s, Tables.documents(s, dir)),
          "media_id", "payload", maxHamming = 2,
          maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    },
      // audio near-dup pairs: the oracle RE-MINES from scratch — rebuilds
      // both clips' samples per doc (base + one-sample-bumped copy; the
      // codecs are lossless so the derivation is codec-blind), computes
      // every clip's 64 fingerprint bits via 65 floor-window envelopes,
      // derives the four 16-bit band keys, self-joins on (band, key), and
      // applies the popcount filter — the q_image_dhash_dup shape in 1-D
      s"""WITH docs2 AS (
         |  SELECT doc_id,
         |    CAST(doc_id % 100 + 130 AS INTEGER) AS L,
         |    substr(repeat(md5(text), 8), 1,
         |      CAST(doc_id % 100 + 130 AS INTEGER)) AS px0,
         |    CAST(doc_id % (doc_id % 100 + 130) AS INTEGER) AS p,
         |    doc_id % 5 = 4 AS bad
         |  FROM documents
         |), clips AS (
         |  SELECT doc_id * 2 + v AS media_id, L, v, p, px0
         |  FROM docs2, (SELECT unnest([0, 1]) AS v)
         |  WHERE NOT bad
         |), wins AS (
         |  SELECT media_id, k, CAST(SUM(a) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (
         |    SELECT media_id, (f * 65) // L AS k,
         |      abs(ascii(substr(px0, CAST(f+1 AS INTEGER), 1)) - 128
         |          + CASE WHEN v = 1 AND f = p THEN 1 ELSE 0 END) AS a
         |    FROM (SELECT media_id, L, v, p, px0,
         |            unnest(range(0, CAST(L AS BIGINT))) AS f
         |          FROM clips))
         |  GROUP BY media_id, k
         |), arrs AS (
         |  SELECT media_id, list(s ORDER BY k) AS ss, list(n ORDER BY k) AS nn
         |  FROM wins GROUP BY media_id
         |), bits AS (
         |  SELECT media_id, list_transform(range(0, 64), i ->
         |    CASE WHEN ss[CAST(i+2 AS INTEGER)] * nn[CAST(i+1 AS INTEGER)]
         |            > ss[CAST(i+1 AS INTEGER)] * nn[CAST(i+2 AS INTEGER)]
         |         THEN 1 ELSE 0 END) AS b
         |  FROM arrs
         |), ${MediaGates.BandPairsSql}""".stripMargin),

    // ---- VIDEO FRAME SIGNATURES: frame sampling composed with the
    //      dHash primitive — every 2nd frame's luma dHash on a 9x7 grid
    //      (56 bits: the signature long stays BIGINT-exact in the
    //      oracle), EXPLODED to scalar rows (media_id, k, sig). The
    //      oracle recomputes each sampled frame's hash positionally
    //      from the clip derivation — per-cell luma sums, floor cells,
    //      cross-multiplied means, bit packing -------------------------
    Gate("q_video_sigs", (s, dir) => {
      import graft.functions.VideoFrameSigs
      Multimodal.mediaTableVideoPairs(Tables.documents(s, dir))
        .select(col("media_id"), VideoFrameSigs(col("payload"), 2, 9, 7).as("__v"))
        .select(
          col("media_id"),
          col("__v.format").as("format"),
          col("__v.width").as("width"),
          col("__v.height").as("height"),
          col("__v.n_frames").as("n_frames"),
          col("__v.n_sampled").as("n_sampled"),
          posexplode_outer(col("__v.sigs")).as(Seq("k", "sig")))
        .withColumn("k", col("k").cast("long"))
        .orderBy("media_id", "k")
    },
      // video frame signatures: the oracle recomputes each sampled frame's
      // 9x7 luma dHash positionally from the clip derivation (sampled set
      // {0, 2} at step 2; frame k's luma = the first w*h chars of its
      // source hex at offset k*2*fb) — per-cell sums via the floor-cell
      // membership trick, cross-multiplied means, 56-bit packing (BIGINT
      // exact). Bad docs surface as one null row per video via LEFT JOIN
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 4 + 9 AS INTEGER) AS w,
        |    CAST(n_chars % 3 + 8 AS INTEGER) AS h,
        |    repeat(md5(text), 34) AS hxA,
        |    repeat(md5(text || 'B'), 34) AS hxB,
        |    doc_id % 5 = 4 AS bad
        |  FROM documents
        |), vids AS (
        |  SELECT doc_id * 2 + v AS media_id, w, h, v, hxA, hxB, bad
        |  FROM d, (SELECT unnest([0, 1]) AS v)
        |), frames AS (
        |  SELECT media_id, w, h, k,
        |    CASE WHEN k = 0 OR v = 0 THEN hxA ELSE hxB END AS src,
        |    k * 2 * (w * h * 3) AS off
        |  FROM vids, (SELECT unnest([0, 1]) AS k)
        |  WHERE NOT bad
        |), pix AS (
        |  SELECT media_id, k, w, h, i % w AS x, i // w AS y,
        |    ascii(substr(src, CAST(off + i + 1 AS INTEGER), 1)) AS g
        |  FROM (SELECT media_id, k, w, h, src, off,
        |          unnest(range(0, CAST(w*h AS BIGINT))) AS i
        |        FROM frames)
        |), cells AS (
        |  SELECT media_id, k,
        |    (len(list_filter(range(7), c -> (c*h)//7 <= y)) - 1) * 9
        |      + (len(list_filter(range(9), c -> (c*w)//9 <= x)) - 1) AS cell,
        |    CAST(sum(g) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM pix GROUP BY 1, 2, 3
        |), arrs AS (
        |  SELECT media_id, k, list(s ORDER BY cell) AS ss, list(c ORDER BY cell) AS cc
        |  FROM cells GROUP BY media_id, k
        |), sigs AS (
        |  SELECT media_id, k,
        |    CAST(list_sum(list_transform(range(0, 56), i ->
        |      CASE WHEN ss[CAST((i//8)*9 + (i%8) + 2 AS INTEGER)]
        |                 * cc[CAST((i//8)*9 + (i%8) + 1 AS INTEGER)]
        |              > ss[CAST((i//8)*9 + (i%8) + 1 AS INTEGER)]
        |                 * cc[CAST((i//8)*9 + (i%8) + 2 AS INTEGER)]
        |           THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
        |           ELSE 0 END)) AS BIGINT) AS sig
        |  FROM arrs
        |)
        |SELECT v.media_id,
        |  CASE WHEN v.bad THEN NULL ELSE 'y4m' END AS format,
        |  CASE WHEN v.bad THEN NULL ELSE v.w END AS width,
        |  CASE WHEN v.bad THEN NULL ELSE v.h END AS height,
        |  CASE WHEN v.bad THEN NULL ELSE CAST(3 AS BIGINT) END AS n_frames,
        |  CASE WHEN v.bad THEN NULL ELSE CAST(2 AS BIGINT) END AS n_sampled,
        |  CAST(s.k AS BIGINT) AS k, s.sig AS sig
        |FROM vids v LEFT JOIN sigs s ON v.media_id = s.media_id
        |ORDER BY v.media_id, s.k""".stripMargin),

    // ---- VIDEO NEAR-DUP PAIRS on shared sampled-frame hashes: the
    //      inverted-list shape (explode signatures -> equi-join on the
    //      hash value, never all-pairs) over the production 9x8 grid.
    //      The table plants one cross-clip shared frame per doc (clip B
    //      reuses clip A's frame 0); the oracle re-mines from the frame
    //      derivation, joining videos on the full 64-bit signature ----
    Gate("q_video_sig_dup", (s, dir) => {
      Dedup.videoFrameSigPairs(
          Multimodal.mediaTableVideoPairs(Tables.documents(s, dir)),
          "media_id", "payload", step = 2, gw = 9, gh = 8,
          maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    },
      // video near-dup pairs: the oracle re-mines on the production 9x8
      // grid — per-frame 64 bits compared as bit LISTS (no 64-bit pack
      // needed), distinct per video, equi-joined across videos, shared
      // counts grouped — the inverted-list shape the engine runs
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 4 + 9 AS INTEGER) AS w,
        |    CAST(n_chars % 3 + 8 AS INTEGER) AS h,
        |    repeat(md5(text), 34) AS hxA,
        |    repeat(md5(text || 'B'), 34) AS hxB,
        |    doc_id % 5 = 4 AS bad
        |  FROM documents
        |), vids AS (
        |  SELECT doc_id * 2 + v AS media_id, w, h, v, hxA, hxB
        |  FROM d, (SELECT unnest([0, 1]) AS v)
        |  WHERE NOT bad
        |), frames AS (
        |  SELECT media_id, w, h, k,
        |    CASE WHEN k = 0 OR v = 0 THEN hxA ELSE hxB END AS src,
        |    k * 2 * (w * h * 3) AS off
        |  FROM vids, (SELECT unnest([0, 1]) AS k)
        |), pix AS (
        |  SELECT media_id, k, w, h, i % w AS x, i // w AS y,
        |    ascii(substr(src, CAST(off + i + 1 AS INTEGER), 1)) AS g
        |  FROM (SELECT media_id, k, w, h, src, off,
        |          unnest(range(0, CAST(w*h AS BIGINT))) AS i
        |        FROM frames)
        |), cells AS (
        |  SELECT media_id, k,
        |    (len(list_filter(range(8), c -> (c*h)//8 <= y)) - 1) * 9
        |      + (len(list_filter(range(9), c -> (c*w)//9 <= x)) - 1) AS cell,
        |    CAST(sum(g) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
        |  FROM pix GROUP BY 1, 2, 3
        |), arrs AS (
        |  SELECT media_id, k, list(s ORDER BY cell) AS ss, list(c ORDER BY cell) AS cc
        |  FROM cells GROUP BY media_id, k
        |), sigset AS (
        |  SELECT DISTINCT media_id,
        |    CAST(list_transform(range(0, 64), i ->
        |      CASE WHEN ss[CAST((i//8)*9 + (i%8) + 2 AS INTEGER)]
        |                 * cc[CAST((i//8)*9 + (i%8) + 1 AS INTEGER)]
        |              > ss[CAST((i//8)*9 + (i%8) + 1 AS INTEGER)]
        |                 * cc[CAST((i//8)*9 + (i%8) + 2 AS INTEGER)]
        |           THEN 1 ELSE 0 END) AS VARCHAR) AS sig
        |  FROM arrs
        |)
        |SELECT id_a, id_b, CAST(count(*) AS INTEGER) AS n_shared
        |FROM (SELECT a.media_id AS id_a, b2.media_id AS id_b
        |      FROM sigset a JOIN sigset b2
        |        ON a.sig = b2.sig AND a.media_id < b2.media_id)
        |GROUP BY id_a, id_b
        |ORDER BY id_a, id_b""".stripMargin),

    // ---- REAL video frame-sampling: YUV4MPEG2 (raw YUV) needs no
    //      codec — every 2nd frame's luma plane folded to exact sums
    //      over byte-exact 3-frame C444 clips; raw-text rows and a C420
    //      header (subsampled geometry, out of scope by design) are the
    //      null-guard mix ----------------------------------------------
    Gate("q_multimodal_frames", (s, dir) => {
      import graft.functions.Y4mSample
      Multimodal.mediaTableY4m(Tables.documents(s, dir))
        .select(col("media_id"), Y4mSample(col("payload"), 2).as("__d"))
        .select(MediaGates.decoded("__d", "width", "height", "n_frames", "n_sampled", "y_sum",
          "y_peak"): _*)
        .orderBy("media_id")
    },
      // y4m frame-sample: 3 C444 frames, step 2 -> frames {0, 2} sampled;
      // frame k's luma = hex positions fb*k+1 .. fb*k+w*h of the repeated
      // md5 (fb = 3*w*h)
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(doc_id % 3 + 1 AS INTEGER) AS w,
        |    CAST(n_chars % 3 + 1 AS INTEGER) AS h,
        |    repeat(md5(text), 5) AS hx,
        |    (doc_id % 3 = 2 OR doc_id % 5 = 4) AS bad
        |  FROM documents
        |), s AS (
        |  SELECT media_id, w, h, bad,
        |    CASE WHEN bad THEN NULL ELSE
        |      flatten(list_transform([0, 2], k ->
        |        list_transform(range(0, CAST(w * h AS BIGINT)), i ->
        |          ascii(substr(hx, CAST(3 * w * h * k + i + 1 AS INTEGER), 1)))))
        |    END AS y
        |  FROM d
        |)
        |SELECT media_id,
        |  CASE WHEN bad THEN NULL ELSE w END AS width,
        |  CASE WHEN bad THEN NULL ELSE h END AS height,
        |  CASE WHEN bad THEN NULL ELSE CAST(3 AS BIGINT) END AS n_frames,
        |  CASE WHEN bad THEN NULL ELSE CAST(2 AS BIGINT) END AS n_sampled,
        |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(y) AS BIGINT) END AS y_sum,
        |  CASE WHEN bad THEN NULL ELSE CAST(list_max(y) AS INTEGER) END AS y_peak
        |FROM s ORDER BY media_id""".stripMargin),

    // ---- Video (MP4/ISO-BMFF) container metadata: the VideoHeader box
    //      walk over byte-exact synthetic containers -------------------
    Gate("q_multimodal_video", (s, dir) => {
      Multimodal
        .extractVideoMeta(Multimodal.mediaTableEncodedVideo(Tables.documents(s, dir)))
        .orderBy("media_id")
    },
      // the oracle emits the generator's parameters; the gate PARSES the
      // byte-exact container — a hash match proves the parser inverts the
      // generator (the audio/image convention)
      """WITH m AS (
        |  SELECT doc_id, source,
        |         CAST((n_chars % 1280) + 16 AS INTEGER) AS w,
        |         CAST((doc_id % 720) + 16 AS INTEGER) AS h,
        |         CAST(n_chars * 3 AS BIGINT) AS dur,
        |         octet_length(encode(text)) AS ds,
        |         doc_id % 3 AS fmt,
        |         CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand
        |  FROM documents
        |)
        |SELECT doc_id AS media_id,
        |       CAST(CASE WHEN fmt = 1 THEN ds ELSE 16 + 216 + 8 + ds END AS BIGINT) AS n_bytes,
        |       CASE WHEN fmt = 1 THEN 'unknown' ELSE 'mp4' END AS format,
        |       CASE WHEN fmt <> 1 THEN brand END AS brand,
        |       CASE WHEN fmt <> 1 THEN w END AS width,
        |       CASE WHEN fmt <> 1 THEN h END AS height,
        |       CASE WHEN fmt <> 1 THEN (dur * 1000) // 600 END AS duration_ms,
        |       source AS origin
        |FROM m ORDER BY media_id""".stripMargin)
  )
}
