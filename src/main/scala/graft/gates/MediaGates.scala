package graft.gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Dedup, Multimodal}

/** Image payloads decoded from scratch (PPM, PNG, GIF, BMP, JPEG, WebP,
  * TIFF), the encode paths, EXIF, resize, perceptual hashes, and the
  * container metadata and byte features of the multimodal table.
  */
private[graft] object MediaGates {

  /** `media_id` plus the named fields of the decoded struct column
    * `struct`, each under its own name.
    */
  private[gates] def decoded(struct: String, fields: String*): Seq[Column] =
    col("media_id") +: fields.map(f => col(s"$struct.$f").as(f))

  // ---- Shared SQL of the raster oracles. The fixture derives each raster
  //      from document fields (w, h, an md5-hex pixel string `px` and a
  //      corruption flag `bad`), so an oracle recomputes decode output
  //      POSITIONALLY from the same fields and never touches the encoded
  //      bytes. Each fragment is whole lines of the oracle SQL.

  /** The `d` CTE's leading columns: the raster geometry. */
  private val RasterWh =
    """  SELECT doc_id AS media_id,
      |    CAST(doc_id % 6 + 2 AS INTEGER) AS w,
      |    CAST(n_chars % 5 + 2 AS INTEGER) AS h,""".stripMargin

  /** Output columns NULL on a corrupt row: one `expr -> name` per column. */
  private def unlessBad(cols: (String, String)*): String =
    cols.map { case (e, n) => s"  CASE WHEN bad THEN NULL ELSE $e END AS $n" }.mkString(",\n")

  private val WidthHeight = unlessBad("w" -> "width", "h" -> "height")
  private val Geometry =
    unlessBad("w" -> "width", "h" -> "height", "CAST(w * h AS BIGINT)" -> "n_px")

  /** Channel `c` (1-based) of pixel `i` in a raster of `stride` chars per
    * pixel.
    */
  private def rgbByte(stride: String)(i: String, c: Int): String =
    s"ascii(substr(px, CAST($stride * $i + $c AS INTEGER), 1))"

  /** Channel `c` of pixel `i` in a palette raster: the px char is an index
    * into the shared formula colormap ((j*7+13)%256, (j*11+5)%256,
    * (j*3+77)%256).
    */
  private def paletteByte(i: String, c: Int): String = {
    val (mul, add) = Seq((7, 13), (11, 5), (3, 77))(c - 1)
    s"(ascii(substr(px, CAST($i + 1 AS INTEGER), 1)) * $mul + $add) % 256"
  }

  /** Sum of channel `c` over the w·h pixels, NULL when `nullWhen`. */
  private def channelSum(
      byte: (String, Int) => String, c: Int, name: String, nullWhen: String = "bad"): String =
    s"""  CASE WHEN $nullWhen THEN NULL ELSE CAST(list_sum(list_transform(
       |    range(0, CAST(w * h AS BIGINT)),
       |    i -> ${byte("i", c)})) AS BIGINT)
       |  END AS $name""".stripMargin

  private def rgbSums(byte: (String, Int) => String): String =
    Seq("sum_r", "sum_g", "sum_b").zipWithIndex
      .map { case (n, c) => channelSum(byte, c + 1, n) }.mkString(",\n")

  /** The 2x2 nearest-neighbor thumb as hex RGB: thumb pixel (ty, tx)
    * samples row (ty*h)//2, col (tx*w)//2.
    */
  private def pixelThumb(byte: (String, Int) => String): String =
    s"""  CASE WHEN bad THEN NULL ELSE list_aggregate(
       |    list_transform(
       |      flatten(list_transform([0, 1], ty ->
       |        list_transform([0, 1], tx -> ((ty * h) // 2) * w + (tx * w) // 2))),
       |      pi -> printf('%02x%02x%02x',
       |        ${byte("pi", 1)},
       |        ${byte("pi", 2)},
       |        ${byte("pi", 3)})),
       |    'string_agg', '')
       |  END AS thumb_hex""".stripMargin

  /** [[pixelThumb]] over an RGB raster of `stride` chars per pixel, read
    * char by char.
    */
  private def byteThumb(stride: String): String =
    s"""  CASE WHEN bad THEN NULL ELSE list_aggregate(
       |    list_transform(
       |      flatten(list_transform([0, 1], ty ->
       |        flatten(list_transform([0, 1], tx ->
       |          list_transform([0, 1, 2], ch ->
       |            $stride * (((ty * h) // 2) * w + (tx * w) // 2) + ch + 1))))),
       |      pos -> printf('%02x', ascii(substr(px, CAST(pos AS INTEGER), 1)))),
       |    'string_agg', '')
       |  END AS thumb_hex""".stripMargin

  /** The palette-raster oracle: px chars are indices into the shared formula
    * colormap (q_multimodal_bmp_palette, q_multimodal_gif_write).
    */
  private val PaletteRasterOracle =
    s"""WITH d AS (
       |$RasterWh
       |    substr(repeat(md5(text), 5), 1,
       |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) AS INTEGER)) AS px,
       |    (doc_id % 5 = 4 OR doc_id % 7 = 3) AS bad
       |  FROM documents
       |)
       |SELECT media_id,
       |$Geometry,
       |${rgbSums(paletteByte)},
       |${pixelThumb(paletteByte)}
       |FROM d ORDER BY media_id""".stripMargin

  /** Baseline and progressive JPEG: exact geometry, in-band booleans
    * pinned TRUE for good rows.
    */
  private val JpegBandsOracle =
    s"""WITH d AS (
       |  SELECT doc_id AS media_id,
       |    CAST(doc_id % 9 + 8 AS INTEGER) AS w,
       |    CAST(n_chars % 7 + 8 AS INTEGER) AS h,
       |    (doc_id % 3 = 2 OR doc_id % 7 = 3) AS bad
       |  FROM documents
       |)
       |SELECT media_id,
       |$Geometry,
       |  CASE WHEN bad THEN NULL ELSE 1 END AS in_band_r,
       |  CASE WHEN bad THEN NULL ELSE 1 END AS in_band_g,
       |  CASE WHEN bad THEN NULL ELSE 1 END AS in_band_b,
       |  CASE WHEN bad THEN NULL ELSE 1 END AS in_band_mae
       |FROM d ORDER BY media_id""".stripMargin

  /** The quarter-band near-dup miner over 64-bit hashes `bits` (media_id,
    * b): four 16-bit band keys, the (band, key) self-join, and the exact
    * popcount filter at hamming <= 2 (q_image_dhash_dup, q_audio_fp_dup).
    */
  private[gates] val BandPairsSql =
    """bands AS (
      |  SELECT media_id, k, b,
      |    list_sum(list_transform(range(0, 16), j ->
      |      b[CAST(16*k + j + 1 AS INTEGER)] * (1 << CAST(j AS INTEGER)))) AS key
      |  FROM bits, (SELECT unnest(range(0, 4)) AS k)
      |), cand AS (
      |  SELECT DISTINCT a.media_id AS id_a, b2.media_id AS id_b,
      |    a.b AS ba, b2.b AS bb
      |  FROM bands a JOIN bands b2
      |    ON a.k = b2.k AND a.key = b2.key AND a.media_id < b2.media_id
      |)
      |SELECT id_a, id_b, hamming FROM (
      |  SELECT id_a, id_b,
      |    CAST(list_sum(list_transform(range(0, 64), i ->
      |      abs(ba[CAST(i+1 AS INTEGER)] - bb[CAST(i+1 AS INTEGER)]))) AS INTEGER)
      |      AS hamming
      |  FROM cand)
      |WHERE hamming <= 2
      |ORDER BY id_a, id_b""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ---- Multimodal: binary payload column + typed metadata -----------
    // payloads carry REAL PNG/JPEG container headers (built byte-exactly by
    // the fixture; the oracle reconstructs the same blob) — extractMeta's
    // ImageHeader expression parses format/dimensions/color from the bytes
    Gate("q_multimodal_meta", (s, dir) => {
      Multimodal.extractMeta(Multimodal.mediaTableEncoded(Tables.documents(s, dir)))
        .withColumn("n_bytes", col("n_bytes").cast("long"))
        .orderBy("media_id")
    },
      """WITH m AS (
        |  SELECT doc_id, source,
        |         CAST((n_chars % 300) + 16 AS INTEGER) AS w,
        |         CAST((doc_id % 240) + 16 AS INTEGER) AS h,
        |         doc_id % 3 AS fmt, doc_id % 2 = 0 AS even,
        |         encode(text) AS tb
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, source, w, h, fmt, even,
        |    CASE
        |      WHEN fmt = 0 THEN
        |        unhex('89504E470D0A1A0A' || '0000000D49484452' ||
        |              lpad(to_hex(w), 8, '0') || lpad(to_hex(h), 8, '0') ||
        |              CASE WHEN even THEN '0802000000' ELSE '0806000000' END ||
        |              '00000000') || tb
        |      WHEN fmt = 1 THEN
        |        unhex('FFD8FFE000104A46494600010100000100010000' ||
        |              CASE WHEN even THEN 'FFC0001108' ELSE 'FFC0000B08' END ||
        |              lpad(to_hex(h), 4, '0') || lpad(to_hex(w), 4, '0') ||
        |              CASE WHEN even THEN '03011100021101031101' ELSE '01011100' END) || tb
        |      ELSE tb
        |    END AS pay
        |  FROM m
        |)
        |SELECT doc_id AS media_id,
        |       CAST(octet_length(pay) AS BIGINT) AS n_bytes,
        |       substr(hex(pay), 1, 16) AS header_hex,
        |       md5(hex(pay)) AS checksum,
        |       CASE fmt WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'unknown' END AS format,
        |       CASE WHEN fmt IN (0, 1) THEN w END AS width,
        |       CASE WHEN fmt IN (0, 1) THEN h END AS height,
        |       CASE WHEN fmt = 0 THEN (CASE WHEN even THEN 2 ELSE 6 END)
        |            WHEN fmt = 1 THEN (CASE WHEN even THEN 3 ELSE 1 END) END AS color_type,
        |       source AS origin
        |FROM p
        |ORDER BY media_id""".stripMargin),

    // ---- REAL pixel decode: binary PPM (P6) needs no codec — exact
    //      per-channel sums + a defined 2x2 nearest-neighbor thumbnail
    //      from byte-exact synthetic rasters (ASCII md5 hex chars, so the
    //      oracle rebuilds the raster from the same fields). Raw-text and
    //      truncated rows decode to NULL (format guard) -----------------
    Gate("q_multimodal_pixels", (s, dir) => {
      import graft.functions.PpmDecode
      Multimodal.mediaTablePpm(Tables.documents(s, dir))
        .select(col("media_id"), PpmDecode(col("payload")).as("__d"))
        .select(decoded("__d", "width", "height", "n_px", "sum_r", "sum_g", "sum_b",
          "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // P6 decode: the raster is ASCII md5-hex, so the oracle recomputes
      // sums and the 2x2 nearest-neighbor thumb POSITIONALLY from the same
      // fields — channel c at 1-based offset 3*i + c + 1; thumb pixel
      // (ty, tx) samples row (ty*h)//2, col (tx*w)//2
      s"""WITH d AS (
         |$RasterWh
         |    substr(repeat(md5(text), 5), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) * 3 AS INTEGER)) AS px,
         |    (doc_id % 3 = 2 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$Geometry,
         |${rgbSums(rgbByte("3"))},
         |${byteThumb("3")}
         |FROM d ORDER BY media_id""".stripMargin),

    // ---- REAL PNG pixel decode: from-scratch Inflater + unfilter kernel
    //      against javax.imageio as the INDEPENDENT encoder. PNG is
    //      lossless with spec-mandated decode output, so the gate is
    //      exact-hash like the P6 path: the raster is ASCII md5 hex, the
    //      oracle recomputes sums/thumb POSITIONALLY from the same
    //      fields, and the two implementations meet only at the raster
    //      definition. Raw-text and truncated rows decode to NULL -------
    Gate("q_multimodal_png", (s, dir) => {
      import graft.functions.PngDecode
      Multimodal.mediaTablePng(s, Tables.documents(s, dir))
        .select(col("media_id"), PngDecode(col("payload")).as("__d"))
        .select(decoded("__d", "width", "height", "color_type", "n_px", "sum_r", "sum_g", "sum_b",
          "sum_a", "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // PNG decode: the encoder (javax.imageio) and decoder (the repo's
      // Inflater+unfilter kernel) are independent implementations; the
      // oracle never touches the PNG bytes — it recomputes the raster
      // statistics POSITIONALLY from the same fields the generator derives
      // the raster from (the q_multimodal_pixels convention, with bpp 3/4
      // by color type). channel c of pixel i sits at 1-based hex offset
      // bpp*i + c + 1; thumb pixel (ty,tx) samples row (ty*h)//2,
      // col (tx*w)//2, RGB channels only
      s"""WITH d AS (
         |$RasterWh
         |    CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS INTEGER) AS bpp,
         |    substr(repeat(md5(text), 7), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2)
         |           * (CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END) AS INTEGER)) AS px,
         |    (doc_id % 3 = 2 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$WidthHeight,
         |  CASE WHEN bad THEN NULL
         |       ELSE CASE WHEN bpp = 4 THEN 6 ELSE 2 END END AS color_type,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h AS BIGINT) END AS n_px,
         |${rgbSums(rgbByte("bpp"))},
         |${channelSum(rgbByte("bpp"), 4, "sum_a", "bad OR bpp = 3")},
         |${byteThumb("bpp")}
         |FROM d ORDER BY media_id""".stripMargin),

    // ---- REAL PNG decode, NON-truecolor color types: palette (3,
    //      PLTE lookup), grayscale (0), gray+alpha (4) — the variants
    //      that dominate real web-scraped corpora. Same exact-hash
    //      pattern as q_multimodal_png: javax.imageio is the independent
    //      encoder, the raster samples (palette INDICES / gray bytes /
    //      gray+alpha pairs) are ASCII md5 hex, the 256-entry palette is
    //      a deterministic formula both engines compute, and the oracle
    //      recomputes sums/thumb POSITIONALLY. Raw-text and
    //      truncated-inside-IDAT rows decode to NULL ------------------
    Gate("q_multimodal_png_palette", (s, dir) => {
      import graft.functions.PngDecode
      Multimodal.mediaTablePngPalette(s, Tables.documents(s, dir))
        .select(col("media_id"), PngDecode(col("payload")).as("__d"))
        .select(decoded("__d", "width", "height", "color_type", "n_px", "sum_r", "sum_g", "sum_b",
          "sum_a", "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // PNG palette/gray/gray+alpha decode: same positional-recompute
      // convention as q_multimodal_png — raster samples are ASCII md5 hex;
      // palette rows (v=0) read them as INDICES into the shared formula
      // palette entry j = ((j*7+13)%256, (j*11+5)%256, (j*3+77)%256); gray
      // rows (v=1) as gray samples (r=g=b); gray+alpha rows (v=2) as
      // interleaved (gray, alpha) pairs. The oracle never touches the PNG
      // bytes
      s"""WITH d AS (
         |$RasterWh
         |    CAST(doc_id % 4 AS INTEGER) AS v,
         |    substr(repeat(md5(text), 5), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2)
         |           * (CASE WHEN doc_id % 4 = 2 THEN 2 ELSE 1 END) AS INTEGER)) AS px,
         |    (doc_id % 5 = 4 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$WidthHeight,
         |  CASE WHEN bad THEN NULL
         |       ELSE CASE v WHEN 0 THEN 3 WHEN 2 THEN 4 ELSE 0 END END AS color_type,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h AS BIGINT) END AS n_px,
         |  CASE WHEN bad THEN NULL
         |       WHEN v = 0 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> (ascii(substr(px, CAST(i + 1 AS INTEGER), 1)) * 7 + 13) % 256)) AS BIGINT)
         |       WHEN v = 1 OR v = 3 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px, CAST(i + 1 AS INTEGER), 1)))) AS BIGINT)
         |       ELSE CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px, CAST(2 * i + 1 AS INTEGER), 1)))) AS BIGINT)
         |  END AS sum_r,
         |  CASE WHEN bad THEN NULL
         |       WHEN v = 0 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> (ascii(substr(px, CAST(i + 1 AS INTEGER), 1)) * 11 + 5) % 256)) AS BIGINT)
         |       WHEN v = 1 OR v = 3 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px, CAST(i + 1 AS INTEGER), 1)))) AS BIGINT)
         |       ELSE CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px, CAST(2 * i + 1 AS INTEGER), 1)))) AS BIGINT)
         |  END AS sum_g,
         |  CASE WHEN bad THEN NULL
         |       WHEN v = 0 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> (ascii(substr(px, CAST(i + 1 AS INTEGER), 1)) * 3 + 77) % 256)) AS BIGINT)
         |       WHEN v = 1 OR v = 3 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px, CAST(i + 1 AS INTEGER), 1)))) AS BIGINT)
         |       ELSE CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px, CAST(2 * i + 1 AS INTEGER), 1)))) AS BIGINT)
         |  END AS sum_b,
         |  CASE WHEN bad OR v <> 2 THEN NULL
         |       ELSE CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px, CAST(2 * i + 2 AS INTEGER), 1)))) AS BIGINT)
         |  END AS sum_a,
         |  CASE WHEN bad THEN NULL ELSE list_aggregate(
         |    list_transform(
         |      flatten(list_transform([0, 1], ty ->
         |        list_transform([0, 1], tx -> ((ty * h) // 2) * w + (tx * w) // 2))),
         |      pi -> CASE
         |        WHEN v = 0 THEN printf('%02x%02x%02x',
         |          (ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)) * 7 + 13) % 256,
         |          (ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)) * 11 + 5) % 256,
         |          (ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)) * 3 + 77) % 256)
         |        WHEN v = 1 OR v = 3 THEN printf('%02x%02x%02x',
         |          ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)),
         |          ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)),
         |          ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)))
         |        ELSE printf('%02x%02x%02x',
         |          ascii(substr(px, CAST(2 * pi + 1 AS INTEGER), 1)),
         |          ascii(substr(px, CAST(2 * pi + 1 AS INTEGER), 1)),
         |          ascii(substr(px, CAST(2 * pi + 1 AS INTEGER), 1)))
         |      END),
         |    'string_agg', '')
         |  END AS thumb_hex
         |FROM d ORDER BY media_id""".stripMargin),

    // ---- REAL GIF pixel decode (from-scratch variable-code LZW +
    //      container walk on core JDK; both scan orders — every third
    //      row INTERLACED, and the JDK GIF writer's interlacer is the
    //      independent implementation the 4-pass deinterlace is pinned
    //      against; sequential rows additionally triangulate against the
    //      JDK reader in GifDecodeSpec). px chars are palette INDICES
    //      into the shared 256-entry paletteEntry colormap, so the
    //      oracle recomputes sums + thumb positionally --------------------
    Gate("q_multimodal_gif", (s, dir) => {
      import graft.functions.GifDecode
      Multimodal.mediaTableGif(s, Tables.documents(s, dir))
        .select(col("media_id"), GifDecode(col("payload")).as("__g"))
        .select(decoded("__g", "width", "height", "gct_size", "n_px", "sum_r", "sum_g", "sum_b",
          "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // GIF decode: positional recompute over the palette-index raster —
      // the palette arm of the PNG-palette oracle (indices through the
      // shared (j·7+13, j·11+5, j·3+77) mod 256 colormap); gct_size is the
      // writer's constant 256-entry table; bad rows (raw text / truncated
      // LZW) → null
      s"""WITH d AS (
         |$RasterWh
         |    substr(repeat(md5(text), 5), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) AS INTEGER)) AS px,
         |    (doc_id % 5 = 4 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$WidthHeight,
         |  CASE WHEN bad THEN NULL ELSE CAST(256 AS INTEGER) END AS gct_size,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h AS BIGINT) END AS n_px,
         |${rgbSums(paletteByte)},
         |${pixelThumb(paletteByte)}
         |FROM d ORDER BY media_id""".stripMargin),

    // ---- ANIMATED GIF frame sampling (the video-pipeline shape over
    //      real multi-frame GIFs from ImageIO's sequence writer): every
    //      2nd composited canvas contributes exact palette-expanded
    //      sums; thumb of the last sampled canvas. Sub-frame placement,
    //      transparency and disposal are spec-pinned on hand-built
    //      payloads (the JDK writes full frames) ------------------------
    Gate("q_multimodal_gif_anim", (s, dir) => {
      import graft.functions.GifFrames
      Multimodal.mediaTableGifAnim(s, Tables.documents(s, dir))
        .select(col("media_id"), GifFrames(col("payload"), 2).as("__g"))
        .select(decoded("__g", "width", "height", "n_frames", "n_sampled", "sum_r", "sum_g",
          "sum_b", "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // animated GIF: frames 0 and 2 of the 3-frame sequence are sampled
      // (every=2); each is a full-size raster whose indices are the f-th
      // w·h slice of the repeated md5 hex — positional palette recompute
      // summed over the sampled frames, thumb from the last one
      s"""WITH d AS (
         |$RasterWh
         |    substr(repeat(md5(text), 5), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) * 3 AS INTEGER)) AS px,
         |    (doc_id % 5 = 4 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$WidthHeight,
         |  CASE WHEN bad THEN NULL ELSE CAST(3 AS BIGINT) END AS n_frames,
         |  CASE WHEN bad THEN NULL ELSE CAST(2 AS BIGINT) END AS n_sampled,
         |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(
         |    flatten([range(0, CAST(w * h AS BIGINT)),
         |             range(CAST(2 * w * h AS BIGINT), CAST(3 * w * h AS BIGINT))]),
         |    i -> (ascii(substr(px, CAST(i + 1 AS INTEGER), 1)) * 7 + 13) % 256)) AS BIGINT)
         |  END AS sum_r,
         |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(
         |    flatten([range(0, CAST(w * h AS BIGINT)),
         |             range(CAST(2 * w * h AS BIGINT), CAST(3 * w * h AS BIGINT))]),
         |    i -> (ascii(substr(px, CAST(i + 1 AS INTEGER), 1)) * 11 + 5) % 256)) AS BIGINT)
         |  END AS sum_g,
         |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(
         |    flatten([range(0, CAST(w * h AS BIGINT)),
         |             range(CAST(2 * w * h AS BIGINT), CAST(3 * w * h AS BIGINT))]),
         |    i -> (ascii(substr(px, CAST(i + 1 AS INTEGER), 1)) * 3 + 77) % 256)) AS BIGINT)
         |  END AS sum_b,
         |  CASE WHEN bad THEN NULL ELSE list_aggregate(
         |    list_transform(
         |      flatten(list_transform([0, 1], ty ->
         |        list_transform([0, 1], tx ->
         |          2 * w * h + ((ty * h) // 2) * w + (tx * w) // 2))),
         |      pi -> printf('%02x%02x%02x',
         |        (ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)) * 7 + 13) % 256,
         |        (ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)) * 11 + 5) % 256,
         |        (ascii(substr(px, CAST(pi + 1 AS INTEGER), 1)) * 3 + 77) % 256)),
         |    'string_agg', '')
         |  END AS thumb_hex
         |FROM d ORDER BY media_id""".stripMargin),

    // ---- 8-bit PALETTE BMP decode: the color-table variant (BGRx
    //      quads, biClrUsed-0 = full 256-entry table, strict index
    //      bound) over real javax.imageio bpp=8 DIBs; px chars are
    //      palette indices into the shared formula colormap, so the
    //      oracle recomputes positionally like the GIF gate -------------
    Gate("q_multimodal_bmp_palette", (s, dir) => {
      import graft.functions.BmpDecode
      Multimodal.mediaTableBmpPalette(s, Tables.documents(s, dir))
        .select(col("media_id"), BmpDecode(col("payload")).as("__b"))
        .select(decoded("__b", "width", "height", "n_px", "sum_r", "sum_g", "sum_b",
          "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // palette BMP: the GIF gate's positional palette recompute (px chars
      // are indices into the shared formula colormap), BMP row mix
      PaletteRasterOracle),

    // ---- REAL BMP pixel decode (Windows DIB, 24-bit BI_RGB): the
    //      bottom-up row order, the 4-byte row padding and the BGR
    //      sample order are the traps — a flipped decode passes the
    //      sums and fails the POSITIONED thumb; an unpadded walk
    //      desyncs every row after the first -----------------------------
    Gate("q_multimodal_bmp", (s, dir) => {
      import graft.functions.BmpDecode
      Multimodal.mediaTableBmp(s, Tables.documents(s, dir))
        .select(col("media_id"), BmpDecode(col("payload")).as("__b"))
        .select(decoded("__b", "width", "height", "n_px", "sum_r", "sum_g", "sum_b",
          "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // BMP decode: positional recompute over the RGB raster convention
      // (px chars consumed 3 per pixel — the mediaTablePng arm)
      s"""WITH d AS (
         |$RasterWh
         |    substr(repeat(md5(text), 7), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) * 3 AS INTEGER)) AS px,
         |    (doc_id % 5 = 4 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$Geometry,
         |${rgbSums(rgbByte("3"))},
         |${pixelThumb(rgbByte("3"))}
         |FROM d ORDER BY media_id""".stripMargin),

    // ---- REAL GIF ENCODE (the write path): palette-exact P6 in,
    //      from-scratch LZW-compressed GIF out, pinned through the
    //      decode-of-encode composition (GifDecodeSpec additionally
    //      decodes this encoder's output with javax.imageio to break
    //      own-decoder circularity). A poisoned non-palette pixel every
    //      7th row → null (exact reverse lookup, never quantization) ----
    Gate("q_multimodal_gif_write", (s, dir) => {
      import graft.functions.{GifDecode, GifEncode}
      Multimodal.mediaTablePpmPalette(s, Tables.documents(s, dir))
        .select(col("media_id"),
          GifDecode(GifEncode(col("payload"))).as("__g"))
        .select(decoded("__g", "width", "height", "n_px", "sum_r", "sum_g", "sum_b",
          "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // GIF encode: decode-of-encode over the palette-exact P6 table —
      // identical positional recompute to the gif decode oracle (the px
      // chars ARE the indices), minus gct_size (the composition's internal)
      PaletteRasterOracle),

    // ---- REAL PNG ENCODE (the write path): P6 in, from-scratch PNG out
    //      (filter-0 scanlines + Deflater + chunk CRCs), pinned through
    //      the decode-of-encode composition — the encoded BYTES are
    //      zlib-version-specific by nature, the decoded statistics are
    //      exact (PngEncodeSpec additionally decodes this encoder's
    //      output with javax.imageio to break own-decoder circularity) --
    Gate("q_multimodal_png_write", (s, dir) => {
      import graft.functions.{PngDecode, PngEncode}
      Multimodal.mediaTablePpm(Tables.documents(s, dir))
        .select(col("media_id"),
          PngDecode(PngEncode(col("payload"))).as("__d"))
        .select(decoded("__d", "width", "height", "color_type", "n_px", "sum_r", "sum_g", "sum_b",
          "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // PNG write path: encode(P6) then decode — the oracle recomputes the
      // P6 raster statistics positionally (the q_multimodal_pixels oracle
      // with the PNG decode's color_type field; the bytes in between are
      // the engine's own, proven against javax.imageio in the spec)
      s"""WITH d AS (
         |$RasterWh
         |    substr(repeat(md5(text), 5), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) * 3 AS INTEGER)) AS px,
         |    (doc_id % 3 = 2 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$WidthHeight,
         |  CASE WHEN bad THEN NULL ELSE 2 END AS color_type,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h AS BIGINT) END AS n_px,
         |${rgbSums(rgbByte("3"))},
         |${byteThumb("3")}
         |FROM d ORDER BY media_id""".stripMargin),

    // ---- JPEG: tolerance-band gate (the q_sketches pattern). JPEG
    //      decode output is IMPLEMENTATION-DEFINED (IDCT rounding,
    //      chroma upsampling) so cross-engine exact-hash parity is
    //      impossible by the codec's nature; the gate pins exact
    //      geometry plus in-band booleans — |mean channel error| <= 3.0
    //      (measured <= ~1.0; a shifted raster measures ~29, a channel
    //      swap flips rows across the population) and worst channel
    //      MAE <= 48 (sf10-measured max 40.4 across 285,714 images —
    //      the band carries tail headroom; uniform-noise output
    //      measures ~85). Decode runs the FROM-SCRATCH baseline kernel
    //      (JpegDecode: Huffman + dequant + IDCT + bilinear chroma
    //      upsample) as one fused map-only expression; the encode side
    //      stays ImageIO, so the gate is a true cross-codec check ------
    Gate("q_multimodal_jpeg", (s, dir) => {
      // booleans ride as int 1/0/NULL: the driver's pandas comparator
      // maps numeric NULL→NaN cleanly, but a NULLABLE BOOLEAN column
      // lands as object-dtype None on one side only
      Multimodal.decodeJpegFused(
          Multimodal.mediaTableJpeg(s, Tables.documents(s, dir)),
          meanTolerance = 3.0, maeTolerance = 48.0)
        .withColumn("in_band_r", col("in_band_r").cast("int"))
        .withColumn("in_band_g", col("in_band_g").cast("int"))
        .withColumn("in_band_b", col("in_band_b").cast("int"))
        .withColumn("in_band_mae", col("in_band_mae").cast("int"))
        .orderBy("media_id")
    },
      // JPEG tolerance gate: geometry is exact (dimensions survive lossy
      // encode) and recomputes from the same fields; the in-band booleans
      // are pinned TRUE for good rows — the Spark side computes them by
      // comparing the javax.imageio decode against the pre-encode raster,
      // so a decoder drifting out of band (or a channel-order/geometry
      // bug) flips a boolean and fails the hash. Exact pixel values are
      // spec-only by the codec's nature (implementation-defined IDCT)
      JpegBandsOracle),

    // ---- JPEG EXIF metadata walk (APP1 "Exif\0\0" -> TIFF IFD0, BOTH
    //      byte orders): orientation / datetime / make / model — the
    //      header-parse operator that decides rotation before decode.
    //      Payloads carry byte-exact hand-assembled APP1 segments whose
    //      fields derive from document columns, so the oracle recomputes
    //      them with no byte introspection -------------------------------
    Gate("q_multimodal_exif", (s, dir) => {
      import graft.functions.JpegExif
      Multimodal.mediaTableExif(s, Tables.documents(s, dir))
        .select(col("media_id"), JpegExif(col("payload")).as("__e"))
        .select(decoded("__e", "orientation", "datetime", "make", "model"): _*)
        .orderBy("media_id")
    },
      // EXIF fields recomputed straight from document columns — the
      // payload's APP1 bytes were ASSEMBLED from the same expressions
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL
        |       ELSE CAST(doc_id % 8 + 1 AS INTEGER) END AS orientation,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL
        |       ELSE printf('2021:%02d:%02d 10:00:%02d',
        |                   doc_id % 12 + 1, n_chars % 28 + 1, doc_id % 60)
        |  END AS datetime,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 'cam_' || source END AS make,
        |  CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 'mx_' || lang END AS model
        |FROM documents
        |ORDER BY media_id""".stripMargin),

    // ---- EXIF-orientation-APPLIED decode: JpegExif's tag walk COMPOSED
    //      with the pixel kernel — the raster is viewed UPRIGHT before
    //      any positional statistic, the operator an image-dedup
    //      pipeline runs on phone-photo corpora. Geometry (swapped for
    //      orientations 5..8) and the orientation are exact; the
    //      POSITIONED thumb and whole-raster MAE are in-band booleans
    //      over smooth gradient rasters, where skipping or misapplying
    //      the rotation lands ~90-190 counts off (the q_multimodal_jpeg
    //      band pattern, made positional). No-EXIF rows pass through as
    //      orientation 1; raw text is the null mix --------------------
    Gate("q_multimodal_oriented", (s, dir) => {
      import graft.functions.JpegOrientedBands
      Multimodal.mediaTableJpegOriented(s, Tables.documents(s, dir))
        .select(
          col("media_id"),
          JpegOrientedBands(col("payload"), col("expected_px"),
            thumbTol = 12, maeTol = 8.0).as("__j"))
        .select(
          col("media_id"),
          col("__j.width").as("width"),
          col("__j.height").as("height"),
          col("__j.orientation").as("orientation"),
          col("__j.n_px").as("n_px"),
          col("__j.thumb_ok").cast("int").as("thumb_ok"),
          col("__j.in_band_mae").cast("int").as("in_band_mae"))
        .orderBy("media_id")
    },
      // orientation-applied decode: geometry and orientation recompute
      // straight from document columns (the upright dims are the
      // generated formulas — a kernel that skips the rotation reports
      // SWAPPED dims for orientations 5..8 and fails the hash); the
      // positional bands are pinned TRUE for good rows
      s"""WITH d AS (
         |  SELECT doc_id AS media_id,
         |    CAST(doc_id % 9 + 24 AS INTEGER) AS w,
         |    CAST(n_chars % 7 + 24 AS INTEGER) AS h,
         |    CASE WHEN doc_id % 3 = 2 THEN 1
         |         ELSE CAST(doc_id % 8 + 1 AS INTEGER) END AS orient,
         |    (doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$WidthHeight,
         |  CASE WHEN bad THEN NULL ELSE orient END AS orientation,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h AS BIGINT) END AS n_px,
         |  CASE WHEN bad THEN NULL ELSE 1 END AS thumb_ok,
         |  CASE WHEN bad THEN NULL ELSE 1 END AS in_band_mae
         |FROM d ORDER BY media_id""".stripMargin),

    // ---- PROGRESSIVE JPEG (SOF2, T.81 Annex G): the same tolerance
    //      gate over REAL multi-scan progressive streams (the JDK
    //      writer's progressive mode — spectral selection + successive
    //      approximation), decoded by the same from-scratch kernel's
    //      Annex-G path: coefficients accumulate across scans (DC
    //      first/refine, AC first/refine with EOB runs + correction
    //      bits) and complete at EOI ------------------------------------
    Gate("q_multimodal_jpeg_prog", (s, dir) => {
      Multimodal.decodeJpegFused(
          Multimodal.mediaTableJpeg(s, Tables.documents(s, dir), progressive = true),
          meanTolerance = 3.0, maeTolerance = 48.0)
        .withColumn("in_band_r", col("in_band_r").cast("int"))
        .withColumn("in_band_g", col("in_band_g").cast("int"))
        .withColumn("in_band_b", col("in_band_b").cast("int"))
        .withColumn("in_band_mae", col("in_band_mae").cast("int"))
        .orderBy("media_id")
    },
      // identical band-pinning shape over the progressive streams — same
      // geometry, same bands (quantization tables are the same at the
      // shared quality; only the scan structure differs)
      JpegBandsOracle),

    // ---- REAL image resize (binary in, binary out): P6 -> 4x3 P6 via
    //      the defined nearest-neighbor grid; output md5-pinned AND
    //      re-decoded (composition: resize's output is itself a valid
    //      media payload). Null rows (raw text / truncated) pass through
    //      as null ------------------------------------------------------
    Gate("q_multimodal_resize", (s, dir) => {
      import graft.functions.{PpmDecode, PpmResize}
      Multimodal.mediaTablePpm(Tables.documents(s, dir))
        .select(
          col("media_id"),
          PpmResize(col("payload"), 4, 3).as("__r"))
        .select(
          col("media_id"),
          md5(col("__r")).as("resized_md5"),
          PpmDecode(col("__r")).getField("width").as("rw"),
          PpmDecode(col("__r")).getField("sum_r").as("rsum_r"))
        .orderBy("media_id")
    },
      // P6 resize: output payload = "P6\n4 3\n255\n" + chars sampled at
      // source (row, col) = ((ty*h)//3, (tx*w)//4) — rebuilt as a STRING
      // (ASCII raster) and md5'd; rsum_r re-derives channel-0 sums from
      // the same sampled positions (the decode-of-resize composition)
      s"""WITH d AS (
         |$RasterWh
         |    substr(repeat(md5(text), 5), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) * 3 AS INTEGER)) AS px,
         |    (doc_id % 3 = 2 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |), r AS (
         |  SELECT media_id, bad, px,
         |    CASE WHEN bad THEN NULL ELSE
         |      flatten(list_transform(range(0, CAST(3 AS BIGINT)), ty ->
         |        flatten(list_transform(range(0, CAST(4 AS BIGINT)), tx ->
         |          list_transform([0, 1, 2], ch ->
         |            3 * (CAST((ty * h) // 3 AS INTEGER) * w
         |                 + CAST((tx * w) // 4 AS INTEGER)) + ch + 1)))))
         |    END AS pos
         |  FROM d
         |), o AS (
         |  SELECT media_id, bad,
         |    CASE WHEN bad THEN NULL ELSE
         |      'P6' || chr(10) || '4 3' || chr(10) || '255' || chr(10) ||
         |      list_aggregate(
         |        list_transform(pos, p -> substr(px, CAST(p AS INTEGER), 1)),
         |        'string_agg', '')
         |    END AS resized
         |  FROM r
         |)
         |SELECT media_id,
         |  md5(resized) AS resized_md5,
         |  CASE WHEN bad THEN NULL ELSE 4 END AS rw,
         |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(
         |    range(0, CAST(12 AS BIGINT)),
         |    i -> ascii(substr(resized, CAST(11 + 3 * i + 1 AS INTEGER), 1)))) AS BIGINT)
         |  END AS rsum_r
         |FROM o ORDER BY media_id""".stripMargin),

    // ---- PERCEPTUAL IMAGE HASH (dHash): the image-dedup primitive —
    //      per-cell area-mean grayscale, one bit per adjacent-cell
    //      comparison, integer-exact throughout (cross-multiplied
    //      means, no division) so the hash itself is oracle-gatable.
    //      Gate grid 3x2 over the MIXED-FORMAT table (r18 #1): fmt
    //      cycles P6 / PNG (both interlace orders) / GIF (palette-
    //      expanded through the shared formula colormap) / BMP / flat
    //      DC-only JPEG (decodes exactly to a uniform raster — dhash 0
    //      by definition, geometry pinned) / lossless WebP / baseline
    //      TIFF (byte order + compression cycling). Images below the
    //      grid, raw
    //      text and truncated containers are the null mix. Tagged JPEG
    //      hashes with EXIF orientation APPLIED — spec-pinned
    //      (tag-only-rotated photos hash identically), as is P6 == PNG
    //      == BMP hash equality on the same raster ---------------------
    Gate("q_image_dhash", (s, dir) => {
      import graft.functions.ImageDHash
      Multimodal.mediaTableDhashMixed(s, Tables.documents(s, dir))
        .select(col("media_id"), ImageDHash(col("payload"), 3, 2).as("__d"))
        .select(decoded("__d", "format", "width", "height", "dhash"): _*)
        .orderBy("media_id")
    }, {
      // dHash: the oracle recomputes the full hash positionally — per-cell
      // gray sums over floor-bounded cell rectangles (per-FORMAT gray:
      // RGB ascii triples for P6/PNG/BMP, the palette formula for GIF),
      // cross-multiplied mean comparisons, row-major bit packing (built
      // programmatically: 6 cells, 4 bits for the 3x2 gate grid). Flat
      // DC-only JPEG rows are uniform, so their hash is literally 0.
      val grayGif =
        """(ascii(substr(px1, CAST(i+1 AS INTEGER), 1)) * 7 + 13) % 256
          |         + (ascii(substr(px1, CAST(i+1 AS INTEGER), 1)) * 11 + 5) % 256
          |         + (ascii(substr(px1, CAST(i+1 AS INTEGER), 1)) * 3 + 77) % 256""".stripMargin
      val grayRgb =
        """ascii(substr(px3, CAST(3*i+1 AS INTEGER), 1))
          |         + ascii(substr(px3, CAST(3*i+2 AS INTEGER), 1))
          |         + ascii(substr(px3, CAST(3*i+3 AS INTEGER), 1))""".stripMargin
      def cellSum(cx: Int, cy: Int) =
        s"""coalesce(list_sum(list_transform(list_filter(
           |      range(0, CAST(w*h AS BIGINT)),
           |      i -> (i % w) >= ($cx * w) // 3 AND (i % w) < (${cx + 1} * w) // 3
           |       AND (i // w) >= ($cy * h) // 2 AND (i // w) < (${cy + 1} * h) // 2),
           |      i -> CASE WHEN fmt = 2 THEN $grayGif
           |           ELSE $grayRgb END)), 0)""".stripMargin
      def cellCnt(cx: Int, cy: Int) =
        s"((${cx + 1}*w)//3 - ($cx*w)//3) * ((${cy + 1}*h)//2 - ($cy*h)//2)"
      val cellCols = (for (cy <- 0 to 1; cx <- 0 to 2) yield
        s"${cellSum(cx, cy)} AS s$cx$cy,\n    ${cellCnt(cx, cy)} AS c$cx$cy").mkString(",\n    ")
      val bitTerms = (for (cy <- 0 to 1; cx <- 0 to 1) yield {
        val bit = 1L << (cy * 2 + cx)
        s"CASE WHEN s${cx + 1}$cy * c$cx$cy > s$cx$cy * c${cx + 1}$cy THEN $bit ELSE 0 END"
      }).mkString(" + ")
      s"""WITH d AS (
         |$RasterWh
         |    CAST((doc_id // 6) % 7 AS INTEGER) AS fmt,
         |    substr(repeat(md5(text), 7), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) * 3 AS INTEGER)) AS px3,
         |    substr(repeat(md5(text), 5), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) AS INTEGER)) AS px1,
         |    (doc_id % 11 = 5 OR doc_id % 7 = 3 OR doc_id % 6 + 2 < 3) AS bad
         |  FROM documents
         |), cells AS (
         |  SELECT media_id, w, h, fmt, bad,
         |    $cellCols
         |  FROM d
         |)
         |SELECT media_id,
         |  CASE WHEN bad THEN NULL ELSE
         |    CASE fmt WHEN 0 THEN 'ppm' WHEN 1 THEN 'png' WHEN 2 THEN 'gif'
         |             WHEN 3 THEN 'bmp' WHEN 4 THEN 'jpeg' WHEN 5 THEN 'webp'
         |             ELSE 'tiff' END
         |  END AS format,
         |$WidthHeight,
         |  CASE WHEN bad THEN NULL
         |       WHEN fmt = 4 THEN 0
         |       ELSE CAST($bitTerms AS BIGINT) END AS dhash
         |FROM cells ORDER BY media_id""".stripMargin
    }),

    // ---- IMAGE NEAR-DUP PAIRS over the perceptual dHash: 16-bit
    //      quarter blocking (pigeonhole: hamming <= 3 of 64 bits agrees
    //      on >= 1 quarter) + exact popcount verify — the simhashPairs
    //      inverted-list shape on the image hash, now over the MIXED
    //      formats a crawl contains (P6/PNG/GIF/BMP/WebP/TIFF cycling
    //      on doc_id//4; JPEG stays out — a lossy hash is not
    //      oracle-re-minable and exact flat payloads are all-uniform,
    //      which would degenerate the mine to an all-pairs clique).
    //      The table plants one near-dup per doc (RGB: one channel of
    //      one pixel +1; GIF: one palette index +1 — either way <= 2
    //      dHash bits move, so blocking MUST find the pair); the oracle
    //      re-mines the pairs from scratch: per-format gray, per-cell
    //      sums, bits, band keys, the band self-join, hamming filter --
    Gate("q_image_dhash_dup", (s, dir) => {
      Dedup.imageDhashPairs(
          Multimodal.mediaTableImagePairs(s, Tables.documents(s, dir)),
          "media_id", "payload", maxHamming = 2,
          maxCandidates = Some(Dedup.defaultVolumeBudget(s)))
        .orderBy("id_a", "id_b")
    },
      // image near-dup pairs: the oracle RE-MINES from scratch — rebuilds
      // both rasters per doc (base + one-char-bumped copy), computes every
      // image's 64 dHash bits via per-cell gray sums grouped by the
      // floor-cell mapping, derives the four 16-bit band keys from the
      // bits, self-joins on (band, key), and applies the popcount filter
      s"""WITH docs2 AS (
         |  SELECT doc_id,
         |    CAST(doc_id % 4 + 10 AS INTEGER) AS w,
         |    CAST(n_chars % 3 + 9 AS INTEGER) AS h,
         |    CAST((doc_id // 4) % 6 AS INTEGER) AS fmt,
         |    CASE WHEN (doc_id // 4) % 6 = 2
         |      THEN substr(repeat(md5(text), 5), 1,
         |        CAST((doc_id % 4 + 10) * (n_chars % 3 + 9) AS INTEGER))
         |      ELSE substr(repeat(md5(text), 14), 1,
         |        CAST((doc_id % 4 + 10) * (n_chars % 3 + 9) * 3 AS INTEGER)) END AS px0,
         |    CAST(doc_id % (CASE WHEN (doc_id // 4) % 6 = 2
         |        THEN (doc_id % 4 + 10) * (n_chars % 3 + 9)
         |        ELSE (doc_id % 4 + 10) * (n_chars % 3 + 9) * 3 END) AS INTEGER) AS p,
         |    doc_id % 5 = 4 AS bad
         |  FROM documents
         |), imgs AS (
         |  SELECT doc_id * 2 + v AS media_id, w, h, fmt,
         |    CASE WHEN v = 0 THEN px0
         |         ELSE substr(px0, 1, p) || chr(ascii(substr(px0, p + 1, 1)) + 1)
         |              || substr(px0, p + 2) END AS px
         |  FROM docs2, (SELECT unnest([0, 1]) AS v)
         |  WHERE NOT bad
         |), pix AS (
         |  SELECT media_id, w, h, i % w AS x, i // w AS y,
         |    CASE WHEN fmt = 2 THEN
         |        (ascii(substr(px, CAST(i+1 AS INTEGER), 1)) * 7 + 13) % 256
         |      + (ascii(substr(px, CAST(i+1 AS INTEGER), 1)) * 11 + 5) % 256
         |      + (ascii(substr(px, CAST(i+1 AS INTEGER), 1)) * 3 + 77) % 256
         |    ELSE ascii(substr(px, CAST(3*i+1 AS INTEGER), 1))
         |      + ascii(substr(px, CAST(3*i+2 AS INTEGER), 1))
         |      + ascii(substr(px, CAST(3*i+3 AS INTEGER), 1)) END AS g
         |  FROM (SELECT media_id, w, h, fmt, px, unnest(range(0, CAST(w*h AS BIGINT))) AS i
         |        FROM imgs)
         |), cells AS (
         |  SELECT media_id,
         |    (len(list_filter(range(8), c -> (c*h)//8 <= y)) - 1) * 9
         |      + (len(list_filter(range(9), c -> (c*w)//9 <= x)) - 1) AS cell,
         |    CAST(sum(g) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
         |  FROM pix GROUP BY 1, 2
         |), arrs AS (
         |  SELECT media_id,
         |    list(s ORDER BY cell) AS ss, list(c ORDER BY cell) AS cc
         |  FROM cells GROUP BY media_id
         |), bits AS (
         |  SELECT media_id,
         |    list_transform(range(0, 64), i ->
         |      CASE WHEN ss[CAST((i//8)*9 + (i%8) + 2 AS INTEGER)]
         |                 * cc[CAST((i//8)*9 + (i%8) + 1 AS INTEGER)]
         |              > ss[CAST((i//8)*9 + (i%8) + 1 AS INTEGER)]
         |                 * cc[CAST((i//8)*9 + (i%8) + 2 AS INTEGER)]
         |           THEN 1 ELSE 0 END) AS b
         |  FROM arrs
         |), $BandPairsSql""".stripMargin),

    // ---- CMYK / YCCK JPEG (Adobe APP14): 4-component decode with the
    //      transform-dependent RGB contract. The payloads are flat
    //      DC-only streams, which a JPEG decodes EXACTLY (nothing for
    //      quantization to lose) — so this lossy-container gate is
    //      HASH-EXACT: the oracle recomputes the converted RGB straight
    //      from the md5-derived component values. Cycles Adobe-CMYK /
    //      YCCK / plain (no marker); raw text is the null mix ---------
    Gate("q_multimodal_cmyk", (s, dir) => {
      import graft.functions.JpegDecode
      Multimodal.mediaTableCmyk(s, Tables.documents(s, dir))
        .select(col("media_id"), JpegDecode(col("payload")).as("__d"))
        .select(decoded("__d", "width", "height", "n_comp", "n_px", "sum_r", "sum_g", "sum_b",
          "thumb_hex"): _*)
        .orderBy("media_id")
    },
      // CMYK/YCCK JPEG: flat DC-only payloads decode EXACTLY, so the
      // oracle recomputes the transform-dependent RGB from the same
      // md5-derived component values (Adobe-inverted c·k/255; YCCK via
      // the JFIF equations with floor(x+0.5) rounding and 0..255 clamp;
      // plain CMYK inverts first) — hash-exact despite the lossy container
      s"""WITH d AS (
         |  SELECT doc_id AS media_id,
         |    CAST(doc_id % 9 + 8 AS INTEGER) AS w,
         |    CAST(n_chars % 7 + 8 AS INTEGER) AS h,
         |    ascii(substr(md5(text), 1, 1)) AS c0,
         |    ascii(substr(md5(text), 2, 1)) AS c1,
         |    ascii(substr(md5(text), 3, 1)) AS c2,
         |    ascii(substr(md5(text), 4, 1)) AS c3,
         |    CAST(doc_id % 3 AS INTEGER) AS tf,
         |    (doc_id % 7 = 3) AS bad
         |  FROM documents
         |), conv AS (
         |  SELECT media_id, w, h, bad,
         |    CASE tf
         |      WHEN 0 THEN (c0 * c3 + 127) // 255
         |      WHEN 1 THEN (GREATEST(0, LEAST(255,
         |        CAST(floor(c0 + 1.402 * (c2 - 128) + 0.5) AS INTEGER))) * c3 + 127) // 255
         |      ELSE ((255 - c0) * (255 - c3) + 127) // 255 END AS r,
         |    CASE tf
         |      WHEN 0 THEN (c1 * c3 + 127) // 255
         |      WHEN 1 THEN (GREATEST(0, LEAST(255,
         |        CAST(floor(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128) + 0.5)
         |          AS INTEGER))) * c3 + 127) // 255
         |      ELSE ((255 - c1) * (255 - c3) + 127) // 255 END AS g,
         |    CASE tf
         |      WHEN 0 THEN (c2 * c3 + 127) // 255
         |      WHEN 1 THEN (GREATEST(0, LEAST(255,
         |        CAST(floor(c0 + 1.772 * (c1 - 128) + 0.5) AS INTEGER))) * c3 + 127) // 255
         |      ELSE ((255 - c2) * (255 - c3) + 127) // 255 END AS b
         |  FROM d
         |)
         |SELECT media_id,
         |$WidthHeight,
         |  CASE WHEN bad THEN NULL ELSE 4 END AS n_comp,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h AS BIGINT) END AS n_px,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h * r AS BIGINT) END AS sum_r,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h * g AS BIGINT) END AS sum_g,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h * b AS BIGINT) END AS sum_b,
         |  CASE WHEN bad THEN NULL
         |       ELSE repeat(printf('%02x%02x%02x', r, g, b), 4) END AS thumb_hex
         |FROM conv ORDER BY media_id""".stripMargin),

    // ---- LOSSLESS WebP (VP8L), decoded from scratch: LSB-first
    //      bitstream, canonical prefix codes (simple + code-length-coded
    //      with repeats), color cache, LZ77 plain backward references,
    //      and all four transforms (14 predictor modes, color,
    //      subtract-green, color-indexing with bundling). The generator
    //      is graft's own VP8L ENCODER (no JDK WebP writer exists) —
    //      arms cycle every decoder feature; VP8L is lossless, so the
    //      gate is HASH-EXACT on sums, alpha and the positioned thumb.
    //      Raw text and truncated payloads are the null mix ------------
    Gate("q_multimodal_webp", (s, dir) => {
      import graft.functions.WebpDecode
      Multimodal.mediaTableWebp(s, Tables.documents(s, dir))
        .select(col("media_id"), WebpDecode(col("payload")).as("__d"))
        .select(decoded("__d", "width", "height", "n_px", "sum_r", "sum_g", "sum_b", "sum_a",
          "thumb_hex"): _*)
        .orderBy("media_id")
    }, {
      // over idx%4, 3 row-constant, 4 two-tone by parity, 5/6 RGB triples
      def ch(name: String, palM: Int, palA: Int, o3: Int, o4: Int): String =
        s"""CASE arm
           |        WHEN 2 THEN ((ascii(substr(hx, CAST(i+1 AS INTEGER), 1)) % 4) * $palM + $palA) % 256
           |        WHEN 3 THEN ascii(substr(hx, CAST(3*(i//w)+$o3 AS INTEGER), 1))
           |        WHEN 4 THEN ascii(substr(hx, CAST(3*(i%2)+$o3 AS INTEGER), 1))
           |        WHEN 5 THEN ascii(substr(hx, CAST(3*i+$o3 AS INTEGER), 1))
           |        WHEN 6 THEN ascii(substr(hx, CAST(3*i+$o3 AS INTEGER), 1))
           |        ELSE ascii(substr(hx, CAST(4*i+$o4 AS INTEGER), 1)) END""".stripMargin
      val rE = ch("r", 7, 13, 1, 2)
      val gE = ch("g", 11, 5, 2, 3)
      val bE = ch("b", 3, 77, 3, 4)
      s"""WITH d AS (
         |  SELECT doc_id AS media_id,
         |    CAST(doc_id % 9 + 4 AS INTEGER) AS w,
         |    CAST(n_chars % 7 + 4 AS INTEGER) AS h,
         |    CAST(doc_id % 7 AS INTEGER) AS arm,
         |    repeat(md5(text), 16) AS hx,
         |    (doc_id % 11 = 5 OR doc_id % 13 = 3) AS bad
         |  FROM documents
         |), px AS (
         |  SELECT media_id, w, h, arm, bad,
         |    CASE WHEN bad THEN NULL ELSE
         |      list_transform(range(0, CAST(w*h AS BIGINT)), i -> $rE) END AS rs,
         |    CASE WHEN bad THEN NULL ELSE
         |      list_transform(range(0, CAST(w*h AS BIGINT)), i -> $gE) END AS gs,
         |    CASE WHEN bad THEN NULL ELSE
         |      list_transform(range(0, CAST(w*h AS BIGINT)), i -> $bE) END AS bs,
         |    CASE WHEN bad THEN NULL
         |      WHEN arm <= 1 THEN list_transform(range(0, CAST(w*h AS BIGINT)),
         |        i -> ascii(substr(hx, CAST(4*i+1 AS INTEGER), 1)))
         |      ELSE list_transform(range(0, CAST(w*h AS BIGINT)), i -> 255) END AS as_
         |  FROM d
         |)
         |SELECT media_id,
         |$Geometry,
         |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(rs) AS BIGINT) END AS sum_r,
         |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(gs) AS BIGINT) END AS sum_g,
         |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(bs) AS BIGINT) END AS sum_b,
         |  CASE WHEN bad THEN NULL ELSE CAST(list_sum(as_) AS BIGINT) END AS sum_a,
         |  CASE WHEN bad THEN NULL ELSE list_aggregate(list_transform(
         |    flatten(list_transform([0, 1], ty ->
         |      list_transform([0, 1], tx -> ((ty*h)//2)*w + (tx*w)//2))),
         |    p -> printf('%02x%02x%02x',
         |      rs[CAST(p+1 AS INTEGER)], gs[CAST(p+1 AS INTEGER)],
         |      bs[CAST(p+1 AS INTEGER)])), 'string_agg', '') END AS thumb_hex
         |FROM px ORDER BY media_id""".stripMargin
    }),

    // ---- Baseline TIFF, decoded from scratch: both byte orders, the
    //      tag directory with inline/offset values, strip-split pixel
    //      data under none/LZW/Deflate/PackBits compression (plus the
    //      horizontal predictor on the LZW/Deflate arms), and all four
    //      photometrics incl. WHITE-IS-ZERO inversion and the 16-bit
    //      SHORT palette. Every arm is lossless, so the gate is
    //      HASH-EXACT on sums and the positioned thumb; predictor,
    //      byte order and strip split change bytes but not pixels, so
    //      the oracle needs only (photometric, px). Raw text and
    //      payloads truncated inside the strip data are the null mix --
    Gate("q_multimodal_tiff", (s, dir) => {
      import graft.functions.TiffDecode
      Multimodal.mediaTableTiff(s, Tables.documents(s, dir))
        .select(col("media_id"), TiffDecode(col("payload")).as("__d"))
        .select(decoded("__d", "width", "height", "n_px", "sum_r", "sum_g", "sum_b",
          "thumb_hex"): _*)
        .orderBy("media_id")
    }, {
      // lossless WebP: the oracle recomputes the exact ARGB pixels from
      // each arm's derivation (the transforms are invisible — lossless):
      // 0/1 ARGB quads from the hex chars, 2 the shared palette formula
      // TIFF: positional recompute per photometric — RGB triplets, gray,
      // WHITE-IS-ZERO inverted gray, or the palette formula (colormap
      // entries are paletteEntry×257, so the decoder's >>8 lands exactly
      // on (j*7+13)%256 / (j*11+5)%256 / (j*3+77)%256); byte order,
      // compression, predictor and strip split are byte-level choices
      // the pixel oracle is invariant to
      def px1(idx: String): String =
        s"ascii(substr(px, CAST($idx + 1 AS INTEGER), 1))"
      def chan(c: Int): String = {
        val mul = Seq(7, 11, 3)(c); val add = Seq(13, 5, 77)(c)
        s"""CASE WHEN p = 2 THEN ${px1(s"3*pi + $c")}
           |      WHEN p = 1 THEN ${px1("pi")}
           |      WHEN p = 0 THEN 255 - ${px1("pi")}
           |      ELSE (${px1("pi")} * $mul + $add) % 256 END""".stripMargin
      }
      def sumCol(c: Int, name: String): String =
        s"""CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(
           |    range(0, CAST(w * h AS BIGINT)), pi -> ${chan(c)})) AS BIGINT)
           |  END AS $name""".stripMargin
      s"""WITH d AS (
         |$RasterWh
         |    CAST((doc_id // 2) % 4 AS INTEGER) AS p,
         |    substr(repeat(md5(text), 7), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) *
         |        (CASE WHEN (doc_id // 2) % 4 = 2 THEN 3 ELSE 1 END) AS INTEGER)) AS px,
         |    (doc_id % 5 = 4 OR doc_id % 7 = 3) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |$Geometry,
         |  ${sumCol(0, "sum_r")},
         |  ${sumCol(1, "sum_g")},
         |  ${sumCol(2, "sum_b")},
         |  CASE WHEN bad THEN NULL ELSE list_aggregate(
         |    list_transform(
         |      flatten(list_transform([0, 1], ty ->
         |        list_transform([0, 1], tx -> ((ty * h) // 2) * w + (tx * w) // 2))),
         |      pi -> printf('%02x%02x%02x', ${chan(0)}, ${chan(1)}, ${chan(2)})),
         |    'string_agg', '')
         |  END AS thumb_hex
         |FROM d ORDER BY media_id""".stripMargin
    }),

    // ---- Arrow-batched multimodal feature extraction (the mapInPandas
    //      execution shape on real Arrow buffers). Hash-gated: the
    //      payloads are reconstructed deterministically from document
    //      fields (the q_multimodal_meta convention), so the oracle
    //      rebuilds the identical blob in DuckDB and derives the byte
    //      statistics from its hex form. Exact parity with the per-row
    //      form is additionally asserted in MultimodalSpec.
    Gate("q_multimodal_bytestats", (s, dir) => {
      Multimodal
        .extractFeaturesArrow(s, Multimodal.mediaTableEncoded(Tables.documents(s, dir)))
        .toDF()
        .orderBy("media_id")
    },
      // byte statistics over the SAME deterministic blob reconstruction as
      // q_multimodal_meta: n_bytes/byte_sum/head_byte derive from the hex
      // form (one int per hex pair), so the Arrow-batched kernel's output
      // is pinned cell-for-cell — no more rows-only entries
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST((n_chars % 300) + 16 AS INTEGER) AS w,
        |         CAST((doc_id % 240) + 16 AS INTEGER) AS h,
        |         doc_id % 3 AS fmt, doc_id % 2 = 0 AS even,
        |         encode(text) AS tb
        |  FROM documents
        |), p AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN fmt = 0 THEN
        |        unhex('89504E470D0A1A0A' || '0000000D49484452' ||
        |              lpad(to_hex(w), 8, '0') || lpad(to_hex(h), 8, '0') ||
        |              CASE WHEN even THEN '0802000000' ELSE '0806000000' END ||
        |              '00000000') || tb
        |      WHEN fmt = 1 THEN
        |        unhex('FFD8FFE000104A46494600010100000100010000' ||
        |              CASE WHEN even THEN 'FFC0001108' ELSE 'FFC0000B08' END ||
        |              lpad(to_hex(h), 4, '0') || lpad(to_hex(w), 4, '0') ||
        |              CASE WHEN even THEN '03011100021101031101' ELSE '01011100' END) || tb
        |      ELSE tb
        |    END AS pay
        |  FROM m
        |)
        |SELECT doc_id AS media_id,
        |       CAST(octet_length(pay) AS INTEGER) AS n_bytes,
        |       CAST(COALESCE(list_sum(list_transform(range(0, octet_length(pay)),
        |         i -> CAST('0x' || substr(hex(pay), i * 2 + 1, 2) AS INTEGER))), 0) AS BIGINT)
        |         AS byte_sum,
        |       CASE WHEN octet_length(pay) = 0 THEN -1
        |            ELSE CAST('0x' || substr(hex(pay), 1, 2) AS INTEGER)
        |       END AS head_byte
        |FROM p
        |ORDER BY media_id""".stripMargin),

    // ---- DECODE-BACKED features over a MIXED-FORMAT corpus: the
    //      MediaDecode sniff dispatches each payload to its from-scratch
    //      kernel (P6/TIFF/PNG/GIF/BMP/JPEG/WebP) and folds real channel
    //      sums + the positioned thumb into the shared schema — the
    //      operator a crawled corpus needs, where no format column
    //      exists. JPEG sums are implementation-defined, so the hash
    //      gate nulls them (q_multimodal_jpeg band-judges that codec);
    //      raw text and truncated containers are the null rows ---------
    Gate("q_multimodal_features", (s, dir) => {
      Multimodal
        .decodedFeatures(Multimodal.mediaTableMixed(s, Tables.documents(s, dir)))
        .orderBy("media_id")
    },
      // DECODE-BACKED mixed-corpus features: positional recompute per
      // format over the established raster conventions — RGB (3 chars per
      // pixel) for ppm/png/bmp, palette indices (1 char per pixel, the
      // shared formula colormap) for gif, geometry-only for jpeg (sums are
      // implementation-defined — banded in q_multimodal_jpeg), all-null
      // for raw text and truncated containers. The oracle never touches
      // the container bytes
      s"""WITH d AS (
         |$RasterWh
         |    CAST(doc_id % 7 AS INTEGER) AS fmt,
         |    -- JPEG rows carry an EXIF orientation cycling 1..8; the
         |    -- ORIENTED sniff reports upright geometry: o >= 5 swaps w/h
         |    CAST((doc_id // 6) % 8 + 1 AS INTEGER) AS o,
         |    substr(repeat(md5(text), 7), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) * 3 AS INTEGER)) AS px3,
         |    substr(repeat(md5(text), 5), 1,
         |      CAST((doc_id % 6 + 2) * (n_chars % 5 + 2) AS INTEGER)) AS px1,
         |    (doc_id % 13 = 3 OR doc_id % 7 = 5) AS bad
         |  FROM documents
         |)
         |SELECT media_id,
         |  CASE WHEN bad THEN NULL ELSE
         |    CASE fmt WHEN 0 THEN
         |               (CASE WHEN (media_id // 7) % 2 = 1 THEN 'tiff' ELSE 'ppm' END)
         |             WHEN 1 THEN 'png' WHEN 2 THEN 'gif'
         |             WHEN 3 THEN 'bmp' WHEN 4 THEN 'jpeg' WHEN 6 THEN 'webp' END
         |  END AS format,
         |  CASE WHEN bad THEN NULL
         |       WHEN fmt = 4 AND o >= 5 THEN h ELSE w END AS width,
         |  CASE WHEN bad THEN NULL
         |       WHEN fmt = 4 AND o >= 5 THEN w ELSE h END AS height,
         |  CASE WHEN bad THEN NULL ELSE CAST(w * h AS BIGINT) END AS n_px,
         |  CASE WHEN bad OR fmt = 4 THEN NULL
         |       WHEN fmt = 2 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> (ascii(substr(px1, CAST(i + 1 AS INTEGER), 1)) * 7 + 13) % 256)) AS BIGINT)
         |       ELSE CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px3, CAST(3 * i + 1 AS INTEGER), 1)))) AS BIGINT)
         |  END AS sum_r,
         |  CASE WHEN bad OR fmt = 4 THEN NULL
         |       WHEN fmt = 2 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> (ascii(substr(px1, CAST(i + 1 AS INTEGER), 1)) * 11 + 5) % 256)) AS BIGINT)
         |       ELSE CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px3, CAST(3 * i + 2 AS INTEGER), 1)))) AS BIGINT)
         |  END AS sum_g,
         |  CASE WHEN bad OR fmt = 4 THEN NULL
         |       WHEN fmt = 2 THEN CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> (ascii(substr(px1, CAST(i + 1 AS INTEGER), 1)) * 3 + 77) % 256)) AS BIGINT)
         |       ELSE CAST(list_sum(list_transform(
         |         range(0, CAST(w * h AS BIGINT)),
         |         i -> ascii(substr(px3, CAST(3 * i + 3 AS INTEGER), 1)))) AS BIGINT)
         |  END AS sum_b,
         |  CASE WHEN bad OR fmt = 4 THEN NULL
         |       WHEN fmt = 2 THEN list_aggregate(
         |         list_transform(
         |           flatten(list_transform([0, 1], ty ->
         |             list_transform([0, 1], tx -> ((ty * h) // 2) * w + (tx * w) // 2))),
         |           pi -> printf('%02x%02x%02x',
         |             (ascii(substr(px1, CAST(pi + 1 AS INTEGER), 1)) * 7 + 13) % 256,
         |             (ascii(substr(px1, CAST(pi + 1 AS INTEGER), 1)) * 11 + 5) % 256,
         |             (ascii(substr(px1, CAST(pi + 1 AS INTEGER), 1)) * 3 + 77) % 256)),
         |         'string_agg', '')
         |       ELSE list_aggregate(
         |         list_transform(
         |           flatten(list_transform([0, 1], ty ->
         |             flatten(list_transform([0, 1], tx ->
         |               list_transform([0, 1, 2], ch ->
         |                 3 * (((ty * h) // 2) * w + (tx * w) // 2) + ch + 1))))),
         |           pos -> printf('%02x', ascii(substr(px3, CAST(pos AS INTEGER), 1)))),
         |         'string_agg', '')
         |  END AS thumb_hex
         |FROM d ORDER BY media_id""".stripMargin)
  )
}
