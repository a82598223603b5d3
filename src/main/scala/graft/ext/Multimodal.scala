package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (BASELINE.json extension surface): media
  * payloads are opaque `binary` columns with typed metadata, and the
  * header decode is REAL — [[graft.functions.MediaHeader]] parses PNG
  * IHDR / JPEG SOF / WAV fmt headers from the actual payload bytes at
  * fixed cost per row (q78's DuckDB oracle replays the same parse from
  * the persisted payloads). Full pixel/sample decoding libraries are not
  * in this environment; the one remaining fabricated step is the
  * byte-histogram feature vector ([[byteHistogram]]), which is an honest
  * byte-level feature, not a pretend image decode.
  *
  * Scale design: payloads never enter a shuffle — header parsing and
  * feature extraction are scan-stage work; only the small feature/metadata
  * columns flow downstream. For very large blobs the pattern extends to
  * pointer columns (URI + range) with partition-local fetch.
  */
object Multimodal {

  /** Canonical media-table schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StringType, nullable = true)))

  /** Fabricate a media table from the documents table (text bytes stand in
    * for an encoded payload; kind round-robins image/audio/video). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      // pmod, not %: sign-preserving % on a negative doc_id gives index
      // <= 0 and an ANSI invalid-array-index abort (syntheticMedia below
      // already uses pmod for every id-derived index)
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      to_json(struct(col("source"), col("n_chars"))).as("meta"))

  /** Cheap column-level features (no decode): byte length, digest, magic. */
  def payloadFeatures(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      length(col("payload")).cast("long").as("n_bytes"),
      sha2(col("payload"), 256).as("sha256"),
      // slice the BYTES first, then hex: hexing the whole payload
      // allocates a 2x-payload-size string per row just to keep its
      // first 8 chars — identical value (first 4 bytes hexed), O(1) cost
      hex(substring(col("payload"), 1, 4)).as("magic"))

  // ───── Format-valid synthetic corpus + real header decode ─────

  /** Big-endian n-byte binary of a non-negative int column (`hex` of an
    * int never carries a sign here; `lpad` restores leading zero bytes). */
  private def be(x: Column, nBytes: Int): Column =
    unhex(lpad(hex(x), nBytes * 2, "0"))

  /** Little-endian n-byte binary: the big-endian hex with byte pairs
    * reversed. */
  private def le(x: Column, nBytes: Int): Column = {
    val h = lpad(hex(x), nBytes * 2, "0")
    unhex(concat((nBytes - 1 to 0 by -1).map(i => substring(h, i * 2 + 1, 2)): _*))
  }

  private def bin(hexStr: String): Column = {
    require(hexStr.length % 2 == 0)
    lit(hexStr.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
  }

  private def asc(s: String): Column = lit(s.getBytes("US-ASCII"))

  /** Fabricate a media corpus whose payloads carry REAL container headers
    * (PNG / JPEG+JFIF / canonical WAV / FLAC STREAMINFO — public byte
    * formats), with the
    * document text as the opaque body and dimensions derived
    * deterministically from `doc_id`. Every 4th document is deliberately
    * malformed — a half cut PNG header or a leading NUL byte that matches
    * no signature — so the decoder's loud-per-row error contract is
    * exercised by the corpus itself, not only by tests. Pure codegen'd
    * expressions (concat/hex/lpad/unhex): fabrication is scan-stage work.
    */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val cls = pmod(id, lit(4))
    val body = encode(col("text"), "UTF-8")
    val pngW = (pmod(id, lit(1920)) + 1).cast("int")
    val pngH = (pmod(id * 7, lit(1080)) + 1).cast("int")
    val png = concat(
      bin("89504E470D0A1A0A"),                     // signature
      bin("0000000D"), asc("IHDR"),                // IHDR length + type
      be(pngW, 4), be(pngH, 4),                    // width, height
      bin("08"), bin("06"), bin("000000"),         // depth, color, c/f/i
      bin("00000000"),                             // CRC (unchecked)
      body)
    val jpgW = (pmod(id, lit(4000)) + 1).cast("int")
    val jpgH = (pmod(id * 3, lit(3000)) + 1).cast("int")
    val jpeg = concat(
      bin("FFD8"),                                 // SOI
      bin("FFE00010"), asc("JFIF"), bin("00"),     // APP0, len 16
      bin("0102"), bin("00"), bin("00010001"), bin("0000"),
      bin("FFC00011"), bin("08"),                  // SOF0, len 17, precision
      be(jpgH, 2), be(jpgW, 2),                    // height, width
      bin("03"), bin("011100"), bin("021101"), bin("031101"),
      bin("FFDA"), body)                           // SOS + opaque body
    // derive from id/4 and id%5: the wav class is id === 2 (mod 4), so any
    // mod-2/mod-4 of the raw id is CONSTANT within the class and would
    // exercise exactly one rate/channel combination
    val wavCh = (pmod(id.divide(lit(4)).cast("long"), lit(2)) + 1).cast("int")
    val wavRate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)),
      (pmod(id, lit(5)) + 1).cast("int"))
    // chunk sizes count BYTES of the UTF-8 body (length of the binary),
    // not characters of the text — they differ on any non-ASCII doc
    val bodyBytes = length(body)
    val wav = concat(
      asc("RIFF"), le(bodyBytes + 36, 4), asc("WAVE"),
      asc("fmt "), le(lit(16), 4), le(lit(1), 2),  // fmt chunk, PCM
      le(wavCh, 2), le(wavRate, 4),
      le(wavRate * wavCh * 2, 4),                  // byte rate
      le(wavCh * 2, 2), le(lit(16), 2),            // block align, bits
      asc("data"), le(bodyBytes, 4), body)
    // FLAC (r18): fLaC magic + a last-block STREAMINFO (type 0, 34 bytes)
    // whose packed rate/channels/bps fields derive from the id — rate 20
    // bits, channels-1 3 bits, bps-1 5 bits share bytes 10-13 (RFC 9639),
    // emitted as 3 BE bytes of rate·16 + (ch-1)·2 (bps 16 ⇒ high bit 0)
    // then 0xF0 | total[35:32] = 0xF0; the text body stands in for the
    // opaque frame section (header-tier corpus — content decode has its
    // own FlacSpec/ExtSpec witnesses)
    val flacCh = (pmod(id.divide(lit(8)).cast("long"), lit(2)) + 1).cast("int")
    val flacTotal = pmod(id * 11, lit(100000)).cast("int")
    val flac = concat(
      asc("fLaC"),
      bin("80"), bin("000022"),                    // last block, type 0, len 34
      be(lit(4096), 2), be(lit(4096), 2),          // min/max block size
      bin("000000"), bin("000000"),                // frame sizes unknown
      be(wavRate * 16 + (flacCh - 1) * 2, 3),      // rate|ch-1|bps-1 high
      bin("F0"),                                   // bps-1 low | total high
      be(flacTotal, 4),                            // total samples low 32
      bin("00000000000000000000000000000000"),     // MD5 unknown
      body)
    val corrupt = when(pmod(id, lit(8)) === 3,
        // PNG signature then a cut mid-IHDR: 15 bytes, under the 26 the
        // header needs -> png_truncated
        concat(bin("89504E470D0A1A0A"), bin("0000000D"), asc("IHD")))
      .otherwise(
        // a leading NUL matches no signature BY CONSTRUCTION (prose text
        // could in principle start with "RIFF") -> unknown_format
        concat(bin("00"), body))
    docs.select(
      id.as("media_id"),
      element_at(array(lit("image"), lit("image"), lit("audio"), lit("unknown")),
        (cls + 1).cast("int")).as("kind"),
      // the audio class (cls 2) splits wav/flac on id%8 (2 or 6 — both
      // hit cls 2; a plain mod of the raw id stays NON-constant here
      // unlike the rate/channel derivations above)
      when(cls === 0, png).when(cls === 1, jpeg)
        .when(cls === 2, when(pmod(id, lit(8)) === 6, flac).otherwise(wav))
        .otherwise(corrupt).as("payload"),
      to_json(struct(col("source"), col("n_chars"))).as("meta"))
  }

  /** Fabricate a VIDEO corpus whose payloads carry a real ISO BMFF (MP4)
    * box structure — `ftyp`, `moov`(`mvhd` v0 + `trak`(`tkhd` v0)),
    * `mdat` with the document text as the opaque frame payload — sized
    * and dimensioned deterministically from `doc_id` (public layout,
    * ISO/IEC 14496-12; every box size is exact, so
    * [[graft.functions.MediaHeader]]'s bounded walk and q91's fixed-offset
    * DuckDB hex replay read the SAME bytes). Every 12th document is
    * deliberately malformed two ways — an `ftyp` followed by an
    * undersized box (`mp4_bad_box`) or nothing at all (`mp4_no_moov`) —
    * so the loud-per-row error contract is exercised by the corpus
    * itself. Pure codegen'd expressions: fabrication is scan-stage work. */
  def syntheticVideo(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val body = encode(col("text"), "UTF-8")
    val bodyBytes = length(body)
    val timescale = element_at(
      array(lit(600), lit(1000), lit(24000), lit(90000)),
      (pmod(id, lit(4)) + 1).cast("int"))
    val duration = (pmod(id * 13, lit(36000)) + 1).cast("int")
    val vw = (pmod(id, lit(1920)) + 16).cast("int")
    val vh = (pmod(id * 7, lit(1080)) + 16).cast("int")
    val matrix = bin( // identity: 0x00010000 diag, 0x40000000 last
      "000100000000000000000000" +
      "000000000001000000000000" +
      "000000000000000040000000")
    val ftyp = concat(bin("00000014"), asc("ftyp"), asc("isom"),
      bin("00000200"), asc("isom"))
    val mvhd = concat(bin("0000006C"), asc("mvhd"),
      bin("00000000"),                      // version 0 + flags
      bin("00000000"), bin("00000000"),     // creation, modification
      be(timescale, 4), be(duration, 4),
      bin("00010000"), bin("0100"), bin("0000"), // rate 1.0, volume, reserved
      bin("0000000000000000"),              // reserved(8)
      matrix, bin("0" * 48),                // matrix + pre_defined(24)
      bin("00000002"))                      // next_track_ID
    val tkhd = concat(bin("0000005C"), asc("tkhd"),
      bin("00000007"),                      // version 0 + enabled/in-movie flags
      bin("00000000"), bin("00000000"),     // creation, modification
      bin("00000001"), bin("00000000"),     // track_ID, reserved
      be(duration, 4), bin("0000000000000000"), // duration, reserved(8)
      bin("0000"), bin("0000"), bin("0000"), bin("0000"), // layer/group/volume/res
      matrix,
      be(vw, 2), bin("0000"),               // width  16.16 (integer part)
      be(vh, 2), bin("0000"))               // height 16.16
    val moov = concat(bin("000000D8"), asc("moov"), mvhd,
      concat(bin("00000064"), asc("trak"), tkhd))
    val mdat = concat(be(bodyBytes + 8, 4), asc("mdat"), body)
    val valid = concat(ftyp, moov, mdat)
    docs.select(
      id.as("media_id"),
      lit("video").as("kind"),
      when(pmod(id, lit(12)) === 5,
          concat(ftyp, bin("00000004"), asc("free"))) // undersized box
        .when(pmod(id, lit(12)) === 11, ftyp)         // no moov at all
        .otherwise(valid).as("payload"),
      to_json(struct(col("source"), col("n_chars"))).as("meta"))
  }

  /** Real header decode: one [[graft.functions.MediaHeader]] parse per row
    * (fixed-offset reads + a bounded JPEG marker walk — O(markers), not
    * O(bytes)), flattened to columns. Malformed payloads land in `error`
    * with null dimensions; nothing throws. */
  def decodeHeaders(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), col("kind"),
        graft.functions.MediaHeader(col("payload")).as("m"))
      .select(col("media_id"), col("kind"),
        col("m.format"), col("m.width"), col("m.height"), col("m.bit_depth"),
        col("m.sample_rate"), col("m.channels"), col("m.error"))

  /** Video candidate PRE-FILTER by header bands (r17 verdict item #2):
    * pairs of MP4 payloads sharing dimensions AND mvhd timescale — the
    * q91 header tier's fields ([[graft.functions.MediaHeader]]: for MP4,
    * `sample_rate` carries the timescale). This is a BLOCKING relation,
    * not a verification: two videos in the same band share container
    * geometry, nothing more — content-level similarity needs frame
    * decode (stubbed, [[frameSample]]) or a model embedding column, and
    * [[Dedup.runPlan]] refuses to turn these candidates into
    * eliminations for exactly that reason. Use it to bound the pair
    * volume ahead of an embedding rerank, or as the join frontier for a
    * caller-owned verifier.
    *
    * Scale: one header parse per row (O(markers), not O(bytes)), then an
    * equi-join on the band key — shuffle-partitioned by band, never
    * all-pairs. Pair volume within a band is inherently quadratic (the
    * blocking trade every family here shares); bands split on
    * width×height×timescale, which in practice spreads a web corpus
    * across thousands of cells. Malformed headers (error non-null) have
    * no band and produce no candidates — they survive, the undecodable-
    * rows contract of every media family. */
  def videoHeaderCandidates(media: DataFrame): DataFrame = {
    val bands = decodeHeaders(media)
      .filter(col("error").isNull && col("format") === "mp4" &&
        col("width").isNotNull && col("height").isNotNull &&
        col("sample_rate").isNotNull)
      .select(col("media_id"), col("width"), col("height"),
        col("sample_rate").as("timescale"))
    bands.as("a").join(bands.as("b"),
      col("a.width") === col("b.width") &&
        col("a.height") === col("b.height") &&
        col("a.timescale") === col("b.timescale") &&
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        col("a.width").as("width"), col("a.height").as("height"),
        col("a.timescale").as("timescale"))
  }

  /** Output schema of the byte-histogram featurizer. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("feature", ArrayType(FloatType), nullable = false)))

  /** Byte-histogram feature vector — an honest byte-level feature (bucketed
    * byte histogram, L1-normalized), NOT a pretend pixel/sample decode:
    * header decoding is [[decodeHeaders]]; full media decoding libraries
    * (JavaCPP / ffmpeg / ImageIO) are not in this environment, and a real
    * deployment would swap this body while keeping the batch shape — one
    * partition iterator in, one iterator out, nothing collected. */
  def byteHistogram(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "kind", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val kind = r.getString(1)
        val bytes = Option(r.getAs[Array[Byte]](2)).getOrElse(Array.emptyByteArray)
        // deterministic fake feature: bucketed byte histogram, L1-normalized
        val hist = new Array[Float](8)
        var i = 0
        while (i < bytes.length) { hist((bytes(i) & 0xff) % 8) += 1f; i += 1 }
        val total = math.max(1f, bytes.length.toFloat)
        Row(id, kind, bytes.length.toLong, hist.map(_ / total).toSeq)
      }
    }
    spark.createDataFrame(rdd, decodedSchema)
  }

  /** Spread the documents scan across the executor cores before the
    * per-row encode loops (r19 optimization round, guide §2.5 input
    * skew): the documents table arrives as ONE small parquet file — one
    * scan split — so every synthetic encode (JPEG/FLAC/WAV/AVI/mp4
    * fabrication, the CPU-heavy part of each witness corpus) ran on 1
    * core of 32, and the corpus it saved was ONE file, collapsing every
    * downstream decode scan the same way. Hash-partitioned by doc_id
    * (deterministic under task retries — never round-robin, SPARK-38388);
    * per-row values are untouched, so every query result is
    * byte-identical.
    *
    * Partition count is DATA-SIZED (r20, guide §2 partition sizing):
    * `min(defaultParallelism, ceil(n / GenRowsPerTask))` — r19's
    * unconditional defaultParallelism spread put 32 tasks (and 32 output
    * files, and 32-split downstream decode scans) under corpora of a few
    * hundred rows, where per-task scheduling cost exceeded the encode
    * parallelism it bought (the r19 verdict's q84 regression; the 8-core
    * bench beating the 32-core bench on every media witness). At scale
    * n/GenRowsPerTask ≫ cores, so the count saturates at
    * defaultParallelism and the 100 TB shape is unchanged. The count job
    * is one zero-column scan of the small documents parquet. */
  private def spreadDocs(docs: DataFrame): DataFrame = {
    val ids = docs.select("doc_id")
    val par = docs.sparkSession.sparkContext.defaultParallelism.toLong
    val parts = math.max(1L,
      math.min(par, (ids.count() + GenRowsPerTask - 1) / GenRowsPerTask)).toInt
    ids.repartition(parts, col("doc_id"))
  }

  /** Target rows per synthetic-encode task (each row is a full media
    * encode — JPEG/FLAC/WAV/AVI/mp4 fabrication at ~0.5-2 ms/row — so a
    * task of this many rows runs ~0.2-1 s: large enough that scheduling
    * overhead stays noise, small enough to parallelize from a few
    * thousand rows up). Measured r20 against 256/512/1024 on the sf0.1
    * media fleet; see OPTIMIZATION_r20.md. */
  private val GenRowsPerTask = 256L

  // ───── Image perceptual near-dup (dHash over real PNG decode) ─────

  /** Schema of [[syntheticImages]]. */
  val imageSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Deterministic MIXED-CODEC image corpus keyed by the documents
    * table: each doc_id becomes a `width`×`height` image (gray PNG,
    * palette PNG, RGBA PNG, GIF, or — on a non-pair slice — baseline/
    * progressive gray and 4:2:0 color JPEG; all format-valid,
    * [[graft.functions.PngGray]] / [[graft.functions.JpegGray]] /
    * [[graft.functions.GifGray]] encoders) whose pixels are a smooth
    * two-frequency sine field seeded by the id.
    * The planted structure mirrors every dedup fixture in this repo:
    * docs with id % 20 == 1 render the PREDECESSOR's pattern shifted
    * +8 brightness with ONE single-pixel jitter — a perceptual near-dup
    * (dHash hamming ≤ 2 by construction: uniform brightness is exactly
    * invariant, and one jittered pixel sits in one 9×8 cell, whose mean
    * participates in exactly two horizontal comparisons — so the
    * default radius-3 mining can never miss a planted pair; a second
    * jitter would allow hamming 4 and silently break the
    * true-pairs = n/20 invariant for unlucky ids) — at every scale.
    * Amplitudes keep pixels in [13, 243]: the +8 shift never clamps,
    * which is what makes the brightness invariance EXACT.
    *
    * Generation is partition-local (one iterator in, one out, nothing
    * collected) — [[byteHistogram]]'s batch shape; `StrictMath` keeps the
    * pattern bit-reproducible across hosts. */
  def syntheticImages(docs: DataFrame, width: Int = 32, height: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    val w = width; val h = height
    val rdd = spreadDocs(docs).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val pix = patternPixels(seed, w, h)
        if (isDup) {
          var i = 0
          while (i < pix.length) { pix(i) = ((pix(i) & 0xff) + 8).toByte; i += 1 }
          // ONE deterministic single-pixel jitter — planted pairs span
          // hamming 0-2 instead of all-zero, while staying provably
          // inside the radius-3 mining default (see the scaladoc bound)
          val j1 = (java.lang.Math.floorMod(id * 31L, (w * h).toLong)).toInt
          pix(j1) = ((pix(j1) & 0xff) ^ 0x14).toByte
        }
        // every third image is PALETTE-encoded (color type 3) with the
        // identity-gray PLTE — decode is pixel-exact either way (the
        // BT.601 weights sum to 256), so every planted-pair invariant
        // holds verbatim while the driver gate exercises the palette
        // decode path on a third of the corpus. A further NON-PAIR slice
        // is baseline-JPEG-encoded (r17: half gray, half 4:2:0 color
        // with noisy chroma planes the decoder must entropy-skip in
        // sync) so q79/q80/q84-q86 exercise the JPEG decode end to end —
        // pair members (id%20 ∈ {0,1}) stay losslessly encoded because
        // the planted hamming ≤ 2 invariant is a PIXEL property JPEG's
        // quantization noise would void
        val idm20 = java.lang.Math.floorMod(id, 20L)
        val payload =
          if (java.lang.Math.floorMod(id, 3L) == 0L && idm20 >= 2L) {
            if (java.lang.Math.floorMod(id, 12L) == 0L)
              graft.functions.JpegGray.encodeGray(w, h, pix, quality = 92)
            else if (java.lang.Math.floorMod(id, 6L) == 0L)
              // the SOF2 half of the gray-JPEG slice: bit-identical
              // decode to the baseline encoding (spec-pinned), so the
              // gates exercise the progressive path at zero oracle risk
              graft.functions.JpegGray.encodeGrayProgressive(w, h, pix,
                quality = 92)
            else {
              val cw = (w + 1) / 2; val ch = (h + 1) / 2
              graft.functions.JpegGray.encodeColor420(w, h, pix,
                patternPixels(seed + 101, cw, ch),
                patternPixels(seed + 211, cw, ch), quality = 92)
            }
          } else if (java.lang.Math.floorMod(id, 6L) == 2L) {
            // RGBA slice (r17): r=g=b=pix is BT.601-exact (77+150+29 =
            // 256) and the decode is alpha-blind, so a varying alpha
            // plane exercises the 4-channel filter path with zero
            // change to any planted value — palette's trick, type 6
            val rgba = new Array[Byte](w * h * 4)
            var k = 0
            while (k < w * h) {
              rgba(4 * k) = pix(k); rgba(4 * k + 1) = pix(k)
              rgba(4 * k + 2) = pix(k)
              rgba(4 * k + 3) = ((id + k * 37) & 0xff).toByte
              k += 1
            }
            graft.functions.PngGray.encodeRgba(w, h, rgba)
          } else if (java.lang.Math.floorMod(id, 3L) == 2L)
            graft.functions.PngGray.encodePalette(w, h,
              graft.functions.PngGray.identityGrayPalette, pix)
          else if (java.lang.Math.floorMod(id, 9L) == 4L)
            // GIF slice (r17): identity-gray palette decodes EXACTLY, so
            // even planted-pair members are safe here — half interlaced
            // to exercise the four-pass row order in the gates
            graft.functions.GifGray.encodeGray(w, h, pix,
              interlaced = java.lang.Math.floorMod(id, 18L) == 4L)
          else if (java.lang.Math.floorMod(id, 9L) == 7L)
            // BMP slice (r17): identity-gray palette, exact — half
            // top-down to exercise both row orders in the gates
            graft.functions.BmpGray.encodeGray(w, h, pix,
              topDown = java.lang.Math.floorMod(id, 18L) == 7L)
          else graft.functions.PngGray.encodeGray(w, h, pix)
        Row(id, payload)
      }
    }
    spark.createDataFrame(rdd, imageSchema)
  }

  /** The smooth luminance field behind [[syntheticImages]] — exposed so
    * the mutation tests build cropped/jittered variants of the SAME
    * pattern the corpus carries. */
  private[graft] def patternPixels(seed: Long, w: Int, h: Int): Array[Byte] = {
    // hash-derived frequencies (1..4 cycles) and phases — splitmix64
    // finalizer, a public PRNG mix
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val m1 = mix(seed); val m2 = mix(seed + 1); val m3 = mix(seed + 2)
    val fx = 1 + java.lang.Math.floorMod(m1, 4L).toInt
    val fy = 1 + java.lang.Math.floorMod(m2, 4L).toInt
    val fxy = 1 + java.lang.Math.floorMod(m3, 3L).toInt
    val px = java.lang.Math.floorMod(m1 >>> 8, 628L) / 100.0
    val py = java.lang.Math.floorMod(m2 >>> 8, 628L) / 100.0
    val pxy = java.lang.Math.floorMod(m3 >>> 8, 628L) / 100.0
    val pix = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // the x·y cross term is what makes dHash ROWS differ: without it
        // the horizontal gradient field is constant in y and the 64-bit
        // hash collapses to 8 bits of x-profile (measured: ~2% of all doc
        // pairs collided within hamming 3 on the separable field)
        val v = 128.0 +
          40.0 * StrictMath.sin(2.0 * StrictMath.PI * fx * x / w + px) +
          40.0 * StrictMath.sin(2.0 * StrictMath.PI * fy * y / h + py) +
          35.0 * StrictMath.sin(2.0 * StrictMath.PI * fxy * x * y / (w * h) + pxy)
        pix(y * w + x) = StrictMath.rint(v).toInt.toByte
        x += 1
      }
      y += 1
    }
    pix
  }

  /** Perceptual fingerprints: one [[graft.functions.ImageDHash]] decode +
    * dHash per row, flattened to (media_id, dhash, error) — the
    * persistable artifact the pairing and its DuckDB oracle replay from.
    * Scan-stage; only 8 bytes per image leave the scan. */
  def imageFingerprints(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), graft.functions.ImageDHash(col("payload")).as("f"))
      .select(col("media_id"), col("f.dhash").as("dhash"), col("f.error").as("error"))

  /** Image near-dup pairs from a persisted (media_id, dhash) fingerprint
    * table: the Manku pigeonhole blocking + exact popcount verify,
    * REUSING [[Dedup.simhashPairsFromSigs]] verbatim — hamming over
    * dHash bits is the same algebra as hamming over token-vote simhash
    * bits, so the image family inherits the text family's
    * zero-false-negative guarantee, plan hygiene, and exhaustive
    * `bit_count(xor)` oracle shape (q72's, replayed as q80). Undecodable
    * rows (null dhash) drop before blocking — they have no content to
    * match. */
  def imageNearDups(fingerprints: DataFrame, maxHamming: Int = 3,
      blocks: Int = 0): DataFrame =
    Dedup.simhashPairsFromSigs(
      fingerprints.filter(col("dhash").isNotNull),
      "media_id", "dhash", maxHamming, blocks)
      .withColumnRenamed("doc_a", "media_a")
      .withColumnRenamed("doc_b", "media_b")

  /** Survivor-oriented image dedup — the greedy star over Manku block
    * cells ([[Dedup.simhashAssignFromBlocks]]' cells and evidence, reused
    * verbatim: hamming over dHash bits is the same algebra as over
    * token-vote simhash bits), completing the survivor matrix's fourth
    * family. Returns ALL fingerprint rows as (media_id, dup_of): null ⇒
    * survivor. Undecodable images (null dhash) survive by definition —
    * they have no content to match, mirroring [[imageNearDups]] dropping
    * them from pairing. `blocks` deepens the split per
    * [[Dedup.simhashParams]] at corpus scale (0 = the legacy
    * `maxHamming + 1` split). Same soundness contract as every survivor
    * family — eliminations are genuine radius pairs toward a smaller id,
    * component minima always survive — ExtSpec-pinned against
    * [[imageNearDups]]' closure and q84-oracled over persisted
    * fingerprints. */
  def imageAssign(fingerprints: DataFrame, maxHamming: Int = 3,
      blocks: Int = 0): DataFrame = {
    TableShapes.requireColumns(fingerprints, Seq("media_id", "dhash"),
      "imageAssign", "build it with Multimodal.imageFingerprints(media)")
    // the fingerprint ids are the complete id set: blocked ids ⊆ them
    CandidatePairs.assign(fingerprints.select(col("media_id")),
      Dedup.simhashBlockTable(fingerprints.filter(col("dhash").isNotNull),
        "media_id", "dhash", maxHamming, blocks),
      Dedup.BlockCells, "media_id", Dedup.HammingEvidence)
  }

  /** Decoded-luminance dump (media_id, width, height, pix, error) — one
    * [[graft.functions.ImageLuma]] decode per row. A PROOF artifact: q85
    * persists it so DuckDB can replay the grid descriptor's integer cell
    * binning from the same parquet; production paths ship only the 8-byte
    * dHash or the grid-feature floats out of the scan. */
  def imageLuma(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), graft.functions.ImageLuma(col("payload")).as("l"))
      .select(col("media_id"), col("l.width").as("width"),
        col("l.height").as("height"), col("l.pix").as("pix"),
        col("l.error").as("error"))

  /** Crop-tolerant image descriptors: one [[graft.functions.ImageGridFeature]]
    * decode + block-mean grid per row, flattened to
    * (media_id, feature, error) — the IMAGE-EMBEDDING column the
    * geometric-tolerance tier feeds into the embedding-LSH survivor
    * family. Scan-stage; gridW·gridH floats per image leave the scan. */
  def imageGridFeatures(media: DataFrame, gridW: Int = 8, gridH: Int = 8): DataFrame =
    media
      .select(col("media_id"),
        graft.functions.ImageGridFeature(col("payload"), gridW, gridH).as("f"))
      .select(col("media_id"), col("f.feature").as("feature"),
        col("f.error").as("error"))

  /** Translation-invariant image descriptors: one
    * [[graft.functions.ImageSpectralFeature]] decode + low-band
    * DFT-magnitude per row, flattened to (media_id, feature, error) —
    * the tier for crops/shifts past the grid descriptor's measured 1 px
    * band (|F| is blind to the phase a shift changes; see the expression
    * scaladoc). Scan-stage; 24 floats per image at the default band. */
  def imageSpectralFeatures(media: DataFrame, maxFreq: Int = 3): DataFrame =
    media
      .select(col("media_id"),
        graft.functions.ImageSpectralFeature(col("payload"), maxFreq).as("f"))
      .select(col("media_id"), col("f.feature").as("feature"),
        col("f.error").as("error"))

  /** Survivor-oriented descriptor dedup — a derived image or audio
    * descriptor ([[imageGridFeatures]], [[imageSpectralFeatures]],
    * [[audioEnvelopeFeatures]] or [[audioSpectralFeatures]], all emit the
    * same (media_id, feature, error) shape) fed through the embedding-LSH
    * greedy star ([[Similarity.nearDupAssignFromTable]] at
    * [[Similarity.nearDupAssign]]'s auto-sizing over the decodable rows:
    * the descriptor IS an embedding, so the geometric and audio tiers
    * inherit the embedding family's plan hygiene and soundness contract).
    * Returns ALL feature rows as (media_id, dup_of): null ⇒
    * survivor; undecodable payloads (null feature) survive by definition,
    * mirroring [[imageAssign]]. `threshold` is cosine over the descriptor
    * — the r16 sweeps measure where each descriptor's planted twins sit
    * against it (SCALE.md r16: the grid tier owns ≤ 1 px, the spectral
    * tier the measured 1-4 px band). */
  def featureAssign(features: DataFrame, threshold: Double = 0.9,
      targetRecall: Double = 0.98): DataFrame = {
    TableShapes.requireColumns(features, Seq("media_id", "feature"),
      "featureAssign",
      "build it with Multimodal.imageGridFeatures, imageSpectralFeatures, " +
        "audioEnvelopeFeatures or audioSpectralFeatures")
    // [[Similarity.nearDupAssign]]'s auto-sizing over the decodable rows;
    // a null feature hashes to no cell, so every row keeps its id
    val (planes, tables) = Similarity.lshParams(
      features.filter(col("feature").isNotNull).count(), threshold, targetRecall)
    Similarity.nearDupAssignFromTable(
      Similarity.lshTable(features, planes, tables, "media_id", "feature"),
      features, threshold, "media_id", "feature")
  }

  // ───── Audio near-dup (real WAV PCM decode → deterministic descriptors) ─

  /** Schema of [[syntheticAudio]]. */
  val audioSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Deterministic REAL-WAV audio corpus keyed by the documents table:
    * each doc_id becomes a PCM clip (valid RIFF/fmt/data chunks —
    * [[graft.functions.WavPcm]] encoders) whose samples are an
    * amplitude-modulated three-sine field seeded by the id — the AM term
    * is what keeps the 64-bin envelope descriptors DIVERSE across clips
    * (a stationary sine mixture's |amplitude| is near-flat at frame
    * scale, and a flat envelope corpus would near-dup-collapse the
    * aligned-bin tier exactly like the separable sine field collapsed
    * dHash, r14). The planted structure mirrors every dedup fixture in
    * this repo: docs with id % 20 == 1 render the PREDECESSOR's waveform
    * at ×1.25 gain (the re-levelled copy the envelope tier is exactly
    * invariant to after mean-centering — |g·x| = g·|x| and cosine
    * cancels the scale) with ONE single-sample jitter. Amplitudes stay
    * ≤ 30,000 after the gain: the re-encode never clips, which is what
    * keeps the planted cosines ≈ 1.
    *
    * Encoding breadth is exercised by the corpus itself, not only by
    * tests: every 5th clip (id % 5 == 3) encodes 8-bit unsigned (decode
    * quantizes to the high byte — planted invariants survive because
    * cosine moves < 1e-4 at this amplitude), else every 3rd (id % 3 == 2)
    * encodes equal-channel STEREO (the mono mix reproduces the samples
    * EXACTLY — floorDiv(2s, 2) = s — zero feature movement), else mono
    * 16-bit; r17 carved the remaining mono-16 rows into 24-bit, float32,
    * and extensible slices (all value-exact), and r18 carves G.711
    * µ-law/A-law slices from NON-PAIR mono-16 rows only (companding is
    * lossy — planted invariants stay byte-identical). Generation is
    * partition-local (one iterator in, one out, nothing collected);
    * `StrictMath` keeps the field bit-reproducible. */
  def syntheticAudio(docs: DataFrame, samplesPerClip: Int = 2048): DataFrame = {
    val spark = docs.sparkSession
    val n = samplesPerClip
    val rdd = spreadDocs(docs).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val isDup = java.lang.Math.floorMod(id, 20L) == 1L
        val seed = if (isDup) id - 1 else id
        val samples = waveformSamples(seed, n, 0)
        if (isDup) {
          var i = 0
          while (i < samples.length) {
            samples(i) = StrictMath.rint(samples(i) * 1.25).toInt
            i += 1
          }
          val j = java.lang.Math.floorMod(id * 31L, n.toLong).toInt
          samples(j) += 1000
        }
        val rate = Array(8000, 16000, 22050, 44100, 48000)(
          java.lang.Math.floorMod(id, 5L).toInt)
        // r17 slices carve the previously-default mono-16 rows ONLY (the
        // 8-bit and stereo branches keep precedence, so no existing row
        // moves); 24-bit, float32, and the extensible wrapper all decode
        // value-EXACT on the 16-bit scale, so every planted feature is
        // unchanged while the gates exercise the widened subset
        val wav =
          if (java.lang.Math.floorMod(id, 5L) == 3L)
            graft.functions.WavPcm.encodePcm8(rate, 1, samples)
          else if (java.lang.Math.floorMod(id, 3L) == 2L)
            graft.functions.WavPcm.encodePcm16(rate, 2, samples)
          else if (java.lang.Math.floorMod(id, 7L) == 1L)
            graft.functions.WavPcm.encodePcm24(rate, 1, samples)
          else if (java.lang.Math.floorMod(id, 7L) == 4L)
            graft.functions.WavPcm.encodeFloat32(rate, 1, samples)
          else if (java.lang.Math.floorMod(id, 7L) == 6L)
            graft.functions.WavPcm.encodePcm24Extensible(rate, 1, samples)
          // r18 G.711 slices: LOSSY companding, so they carve NON-PAIR
          // rows only (id % 20 ∉ {0, 1} — neither a planted dup nor its
          // source), the q92 lesson: planted invariants stay measured
          // against byte-identical waveforms while the gates exercise
          // the telephony decode paths
          else if (java.lang.Math.floorMod(id, 20L) >= 2L &&
              java.lang.Math.floorMod(id, 11L) == 5L)
            graft.functions.WavPcm.encodeUlaw(rate, 1, samples)
          else if (java.lang.Math.floorMod(id, 20L) >= 2L &&
              java.lang.Math.floorMod(id, 11L) == 8L)
            graft.functions.WavPcm.encodeAlaw(rate, 1, samples)
          // r18 FLAC slices: LOSSLESS, so they may carve pair rows —
          // mono fixed-2 and stereo mid/side both decode value-EXACT on
          // the shared 16-bit scale (FlacSpec round-trip pins)
          else if (java.lang.Math.floorMod(id, 13L) == 3L)
            graft.functions.FlacPcm.encode(rate, 1, samples)
          else if (java.lang.Math.floorMod(id, 13L) == 9L)
            graft.functions.FlacPcm.encode(rate, 2, samples,
              stereoMode = "mid_side")
          else
            graft.functions.WavPcm.encodePcm16(rate, 1, samples)
        Row(id, wav)
      }
    }
    spark.createDataFrame(rdd, audioSchema)
  }

  /** Deterministic MJPEG-in-AVI video corpus keyed by the documents
    * table (r18 — the video CONTENT tier's witness corpus): each doc_id
    * becomes a real single-stream AVI ([[graft.functions.MjpegAvi]]
    * canonical layout) whose frames are baseline JPEGs of the same
    * smooth field [[syntheticImages]] renders. Planted structure mirrors
    * every dedup fixture here: docs with id % 20 == 1 render the
    * PREDECESSOR's frame-0 field at +8 brightness with one pixel jitter
    * — the frame-0 dHash twins the image tier detects (JPEG is lossy, so
    * detection is the r18 MEASURED law, not an invariant). Every 12th
    * row (id % 12 == 5, mirroring [[syntheticVideo]]'s malformed classes)
    * is a TRUNCATED AVI — header magic only — so the loud-per-row error
    * contract is exercised by the corpus itself. Later frames (k ≥ 1)
    * render distinct fields: frame 0 is the dedup witness, the rest
    * prove the container walk finds the FIRST frame, not just any. */
  def syntheticVideoAvi(docs: DataFrame, width: Int = 32, height: Int = 32,
      frames: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val w = width; val h = height; val nf = frames
    val rdd = spreadDocs(docs).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload: Array[Byte] =
          if (java.lang.Math.floorMod(id, 12L) == 5L)
            // magic-only truncation: RIFF size "AVI " and nothing else
            "RIFF".getBytes("US-ASCII") ++
              Array[Byte](4, 0, 0, 0) ++ "AVI ".getBytes("US-ASCII")
          else {
            val isDup = java.lang.Math.floorMod(id, 20L) == 1L
            val seed = if (isDup) id - 1 else id
            val fs = (0 until nf).map { k =>
              val pix = patternPixels(seed + 7919L * k, w, h)
              if (isDup && k == 0) {
                var i = 0
                while (i < pix.length) {
                  pix(i) = ((pix(i) & 0xff) + 8).toByte; i += 1
                }
                val j1 = java.lang.Math.floorMod(id * 31L, (w * h).toLong).toInt
                pix(j1) = ((pix(j1) & 0xff) ^ 0x14).toByte
              }
              graft.functions.JpegGray.encodeGray(w, h, pix, quality = 92)
            }
            graft.functions.MjpegAvi.encode(w, h, fs, fps = 25)
          }
        Row(id, payload)
      }
    }
    spark.createDataFrame(rdd, imageSchema)
  }

  /** Deterministic JPEG-codec mp4 video corpus keyed by the documents
    * table (r19 — the mp4 content rung's witness corpus, the
    * [[syntheticVideoAvi]] playbook applied to ISO BMFF): each doc_id
    * becomes a real single-video-track mp4 ([[graft.functions.Mp4Jpeg]]
    * canonical layout, one sample per chunk so stsc/stco resolution is
    * genuinely exercised) whose samples are baseline JPEGs of the same
    * smooth field. Planted structure: id % 20 == 1 renders the
    * PREDECESSOR's frame-0 field at +8 brightness with one pixel jitter
    * (the frame-0 dHash twins); id % 12 == 5 is a TRUNCATED container
    * (ftyp box only, no moov — `mp4_no_moov`); id % 12 == 9 carries the
    * SAME jpeg samples under an `avc1` stsd fourcc — the opaque-codec
    * class the frame rungs must refuse to promise over (`mp4_codec_avc1`
    * per row; such rows fingerprint null and survive). Frame 0 fields
    * match [[syntheticVideoAvi]]'s exactly, so an AVI and an mp4 of the
    * same doc_id are CROSS-CONTAINER near-twins (the q92-era cross-codec
    * image trick applied to video containers). */
  def syntheticVideoMp4(docs: DataFrame, width: Int = 32, height: Int = 32,
      frames: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val w = width; val h = height; val nf = frames
    val rdd = spreadDocs(docs).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload: Array[Byte] =
          if (java.lang.Math.floorMod(id, 12L) == 5L)
            // magic-only truncation: a bare ftyp box, no moov
            Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++
              Array[Byte](0, 0, 2, 0)
          else {
            val isDup = java.lang.Math.floorMod(id, 20L) == 1L
            val seed = if (isDup) id - 1 else id
            val fs = (0 until nf).map { k =>
              val pix = patternPixels(seed + 7919L * k, w, h)
              if (isDup && k == 0) {
                var i = 0
                while (i < pix.length) {
                  pix(i) = ((pix(i) & 0xff) + 8).toByte; i += 1
                }
                val j1 = java.lang.Math.floorMod(id * 31L, (w * h).toLong).toInt
                pix(j1) = ((pix(j1) & 0xff) ^ 0x14).toByte
              }
              graft.functions.JpegGray.encodeGray(w, h, pix, quality = 92)
            }
            val codec =
              if (java.lang.Math.floorMod(id, 12L) == 9L) "avc1" else "jpeg"
            graft.functions.Mp4Jpeg.encode(w, h, fs, fps = 25,
              codecFourcc = codec)
          }
        Row(id, payload)
      }
    }
    spark.createDataFrame(rdd, imageSchema)
  }

  /** Per-frame dHash fingerprints over a video table (MJPEG-AVI and
    * jpeg-codec mp4, dispatched by magic) — the MULTI-FRAME video tier
    * (r18; mp4 widened r19): `(media_id, frame_idx, dhash, error)`
    * for frames 0..`frames`−1, ONE pass over the media table (frame
    * indices explode scan-side; each [[graft.functions.VideoFrameBytes]]
    * + dHash evaluation is an O(payload) container walk + one frame
    * decode). Videos with fewer frames (or undecodable payloads — a
    * malformed container, an opaque mp4 codec) carry null dhash rows
    * past their last frame — they match nothing and survive, the
    * fingerprint convention.
    *
    * Why multi-frame: frame-0 matching ([[imageFingerprints]] on AVI
    * payloads) breaks on a TRIMMED re-upload — drop the first frame and
    * frame 0 is new content. Sampling K frames and matching on ANY
    * frame pair recovers trims up to K−1 frames (a t-frame trim still
    * shares K−t frames with the original) — the video analogue of the
    * audio shift tier, measured in SCALE.md r18 (`probes.VideoDedupProbe`). */
  def videoFrameFingerprints(media: DataFrame, frames: Int = 3): DataFrame = {
    require(frames >= 1 && frames <= MaxVideoFrames,
      s"frames must be 1..$MaxVideoFrames (the fid packing bound), got $frames")
    media
      .select(col("media_id"), col("payload"),
        explode(array((0 until frames).map(lit): _*)).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        graft.functions.ImageDHash(
          graft.functions.VideoFrameBytes(col("payload"), col("frame_idx")))
          .as("f"))
      .select(col("media_id"), col("frame_idx"),
        col("f.dhash").as("dhash"), col("f.error").as("error"))
  }

  /** The fid packing bound for [[videoAnyFrameNearDups]]: frame rows key
    * as `media_id << 6 | frame_idx`, so sampled frames per video cap at
    * 64 and media ids must be non-negative. */
  val MaxVideoFrames = 64

  /** Trim-tolerant video near-dup pairs from a (media_id, frame_idx,
    * dhash) fingerprint table: two videos pair when ANY sampled frame
    * pair sits within `maxHamming` — `(media_a, media_b, min_hamming)`.
    * REUSES the Manku pigeonhole blocking verbatim over packed frame ids
    * (hamming over dHash bits, the [[imageNearDups]] observation), so
    * the relation is blocked — never all-pairs — and inherits the
    * zero-false-negative guarantee: every frame pair within the radius
    * is a verified candidate, hence the per-video-pair MIN over
    * candidates equals the true min whenever the true min is within the
    * radius (the q95 oracle replays the exhaustive form and
    * hash-matches). Same-video frame pairs are excluded; pair order is
    * media_a < media_b (monotone fid packing). */
  def videoAnyFrameNearDups(frameFps: DataFrame, maxHamming: Int = 3,
      blocks: Int = 0): DataFrame = {
    TableShapes.requireColumns(frameFps, Seq("media_id", "frame_idx", "dhash"),
      "videoAnyFrameNearDups",
      "build it with Multimodal.videoFrameFingerprints(media)")
    anyUnitNearDups(frameFps, "frame_idx", "dhash")(
      Dedup.simhashScoredPairsFromSigs(_, "fid", "dhash", maxHamming, blocks),
      h => min(h).cast("long").as("min_hamming"))
  }

  /** The any-unit pair form of the trim tiers ([[videoAnyFrameNearDups]],
    * [[audioAnySegmentNearDups]]): unit rows with a non-null `value` pack
    * as `fid = media_id << 6 | idx`, the family's `scored` stream pairs
    * the packed units as (fid_a, fid_b, score), same-media pairs drop, and
    * `best` reduces each media pair's scores. The stream may repeat a
    * pair (one row per colliding block or table): `best` is a min or max,
    * which a repeat does not move, so no distinct is paid before it
    * (oracle-verified, q95/q97/q98). Pair order is media_a < media_b
    * (monotone fid packing). */
  private def anyUnitNearDups(units: DataFrame, idx: String, value: String)(
      scored: DataFrame => DataFrame, best: Column => Column): DataFrame = {
    val packed = units.filter(col(value).isNotNull)
      .select((shiftleft(col("media_id"), 6) + col(idx)).as("fid"), col(value))
    val pairs = scored(packed)
    val Array(a, b, score) = pairs.columns
    pairs.select(shiftright(col(a), 6).as("media_a"),
        shiftright(col(b), 6).as("media_b"), col(score))
      .filter(col("media_a") =!= col("media_b"))
      .groupBy("media_a", "media_b")
      .agg(best(col(score)))
  }

  /** The amplitude-modulated sine field behind [[syntheticAudio]] —
    * sample i reads the field at absolute position `offset + i`, so the
    * shift-sweep probe can window the SAME content at an offset (the
    * audio analogue of the crop-shifted image twins). Exposed for the
    * probe and the mutation tests. */
  private[graft] def waveformSamples(seed: Long, n: Int, offset: Int): Array[Int] = {
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val m1 = mix(seed); val m2 = mix(seed + 1); val m3 = mix(seed + 2)
    val m4 = mix(seed + 3)
    val f1 = 2 + java.lang.Math.floorMod(m1, 8L).toInt   // 2..9 cycles/clip
    val f2 = 2 + java.lang.Math.floorMod(m2, 8L).toInt
    // the half-cycle offset keeps the field APERIODIC over the clip
    // window: a window shift is then NOT a cyclic rotation, so the
    // spectral tier's shift invariance is MEASURED (boundary effects and
    // all), never construction-trivial
    val f3 = 10.5 + java.lang.Math.floorMod(m3, 20L).toDouble // 10.5..29.5 cycles/clip
    val fm = 1 + java.lang.Math.floorMod(m4, 3L).toInt   // 1..3 AM cycles
    val p1 = java.lang.Math.floorMod(m1 >>> 8, 628L) / 100.0
    val p2 = java.lang.Math.floorMod(m2 >>> 8, 628L) / 100.0
    val p3 = java.lang.Math.floorMod(m3 >>> 8, 628L) / 100.0
    val pm = java.lang.Math.floorMod(m4 >>> 8, 628L) / 100.0
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val t = (offset + i).toDouble
      val carrier =
        6000.0 * StrictMath.sin(2.0 * StrictMath.PI * f1 * t / n + p1) +
        6000.0 * StrictMath.sin(2.0 * StrictMath.PI * f2 * t / n + p2) +
        4000.0 * StrictMath.sin(2.0 * StrictMath.PI * f3 * t / n + p3)
      val env = 1.0 + 0.5 * StrictMath.sin(2.0 * StrictMath.PI * fm * t / n + pm)
      out(i) = StrictMath.rint(carrier * env).toInt
      i += 1
    }
    out
  }

  /** Decoded-sample dump (media_id, sample_rate, channels, bits, samples,
    * error) — one [[graft.functions.AudioSamples]] decode per row.
    * [[imageLuma]]'s role for the audio family: q88 persists it so DuckDB
    * replays the envelope descriptor's integer frame binning from the
    * same parquet; production ships only descriptor floats. */
  def audioSamples(media: DataFrame): DataFrame =
    media
      .select(col("media_id"), graft.functions.AudioSamples(col("payload")).as("a"))
      .select(col("media_id"), col("a.sample_rate").as("sample_rate"),
        col("a.channels").as("channels"), col("a.bits").as("bits"),
        col("a.samples").as("samples"), col("a.error").as("error"))

  /** Aligned-bin audio descriptors: one
    * [[graft.functions.AudioEnvelopeFeature]] decode + frame envelope per
    * row, flattened to (media_id, feature, error) — the AUDIO-EMBEDDING
    * column the dedup tier feeds into the embedding-LSH survivor family.
    * Scan-stage; `frames` floats per clip leave the scan. */
  def audioEnvelopeFeatures(media: DataFrame, frames: Int = 64): DataFrame =
    media
      .select(col("media_id"),
        graft.functions.AudioEnvelopeFeature(col("payload"), frames).as("f"))
      .select(col("media_id"), col("f.feature").as("feature"),
        col("f.error").as("error"))

  /** Time-shift-tolerant audio descriptors: one
    * [[graft.functions.AudioSpectralFeature]] decode + low-band
    * DFT-magnitude per row, flattened to (media_id, feature, error) —
    * the tier for re-trimmed/padded clips past the envelope's measured
    * shift band (|F| is blind to the phase a shift changes; SCALE.md r16
    * shift sweep). Scan-stage; `maxFreq` floats per clip. */
  def audioSpectralFeatures(media: DataFrame, maxFreq: Int = 24): DataFrame =
    media
      .select(col("media_id"),
        graft.functions.AudioSpectralFeature(col("payload"), maxFreq).as("f"))
      .select(col("media_id"), col("f.feature").as("feature"),
        col("f.error").as("error"))

  /** The fid packing bound for [[audioAnySegmentNearDups]]: segment rows
    * key as `media_id << 6 | segment_idx` (the [[MaxVideoFrames]]
    * convention applied to audio windows). */
  val MaxAudioSegments = 64

  /** Per-segment envelope descriptors over an audio table — the scan
    * stage of the audio TRIM tier (r19): `(media_id, segment_idx,
    * feature, error)` for windows 0..`segments`−1 of `segmentSamples`
    * mono samples each, ONE [[graft.functions.AudioCodecs]] decode per
    * clip ([[graft.functions.AudioSegmentFeatures]] slices the decoded
    * samples in memory — unlike the video tier's K container walks).
    * Windows past the clip's end (and undecodable clips) carry null
    * feature rows — they match nothing and survive, the fingerprint
    * convention. Window length is ABSOLUTE (samples, not clip-relative),
    * so a clip trimmed by t whole windows shares `segments − t`
    * IDENTICAL windows with its original — the re-alignment the trim
    * law measures. `descriptor = "spectral"` swaps in the per-window
    * |DFT| magnitudes (`frames` is then maxFreq): an OFF-GRID cut
    * within the r16 512-sample shift band still matches — the
    * envelope variant's measured off-grid collapse, recovered (r19
    * off-grid sweep). */
  def audioSegmentFeatures(media: DataFrame, segmentSamples: Int = 2048,
      segments: Int = 4, frames: Int = 16,
      descriptor: String = "envelope"): DataFrame = {
    require(segments >= 1 && segments <= MaxAudioSegments,
      s"segments must be 1..$MaxAudioSegments (the fid packing bound), " +
        s"got $segments")
    require(descriptor == "envelope" || descriptor == "spectral",
      s"descriptor must be envelope|spectral, got '$descriptor'")
    media
      .select(col("media_id"),
        graft.functions.AudioSegmentFeatures(col("payload"), segmentSamples,
          segments, frames, spectral = descriptor == "spectral").as("f"))
      .select(col("media_id"), col("f.features").as("fs"),
        col("f.error").as("error"))
      .select(col("media_id"),
        posexplode(coalesce(col("fs"),
          array_repeat(lit(null).cast("array<float>"), segments))),
        col("error"))
      .select(col("media_id"), col("pos").as("segment_idx"),
        col("col").as("feature"), col("error"))
  }

  /** Trim-tolerant audio near-dup pairs from a (media_id, segment_idx,
    * feature) segment table: two clips pair when ANY segment pair scores
    * above `threshold` cosine — `(media_a, media_b, best_cosine)`. The
    * [[videoAnyFrameNearDups]] machinery with hyperplane LSH in place of
    * Manku blocking: segment rows pack as `media_id << 6 | segment_idx`
    * and ride [[Similarity.nearDupPairsLsh]] (auto-sized from the
    * segment-row count unless an explicit config is passed), so the
    * relation is bucketed — never all-pairs — and each surviving pair
    * carries its best verified cosine. Same-clip segment pairs are
    * excluded; pair order is media_a < media_b (monotone fid packing).
    * Recall is the LSH targetRecall (≈0.98 at the default), so q97's
    * oracle is the SOUNDNESS form (every elimination re-verified as an
    * exact cosine cross-engine), not the exhaustive replay the
    * pigeonhole families get. */
  def audioAnySegmentNearDups(segFeats: DataFrame, threshold: Double = 0.9,
      nPlanes: Int = 0, nTables: Int = 0,
      targetRecall: Double = 0.98): DataFrame = {
    TableShapes.requireColumns(segFeats,
      Seq("media_id", "segment_idx", "feature"), "audioAnySegmentNearDups",
      "build it with Multimodal.audioSegmentFeatures(media)")
    anyUnitNearDups(segFeats, "segment_idx", "feature")(
      Similarity.lshScoredCollisions(_, threshold, nPlanes, nTables,
        idCol = "fid", vecCol = "feature", targetRecall = targetRecall),
      c => max(c).as("best_cosine"))
  }

  /** Frame/segment sampling stub: slices the payload into `every`-byte
    * strides, keeping the first `frameLen` bytes of each stride — the same
    * row-explode shape a real video frame sampler has (one row per frame,
    * payload never shuffled whole). */
  def frameSample(media: DataFrame, every: Int, frameLen: Int): DataFrame = {
    // every = 0 would divide to Infinity, saturate the int cast at
    // Int.MaxValue, and blow up inside sequence() far from the bad
    // argument — guard the knobs at the call site like the sampling ops do
    require(every >= 1, s"every must be >= 1, got $every")
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    val nFrames = greatest(
      ceil(length(col("payload")) / lit(every.toDouble)).cast("int"), lit(1))
    media
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), nFrames - 1),
          i => col("payload").substr(i * every + 1, lit(frameLen)))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame")
  }
}
