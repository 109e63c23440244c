package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing (SURVEY.md §2 north-star: "multimodal
  * columns"): media as opaque `binary` columns with typed metadata
  * structs, processed partition-wise in batches.
  *
  * The codecs are real and pure JVM: P5/P6 PNM ([[Ppm]]) with the
  * integer-DCT pHash, lossless PNG ([[Png]]), baseline JFIF/JPEG in
  * gray and 4:2:0 color ([[Jpeg]]), Motion JPEG ([[Jpeg.Mjpeg]]),
  * inter-frame P-frame video ([[Jpeg.Pvid]]), RIFF/WAVE audio as
  * PCM16, G.711 μ-law and IMA ADPCM ([[Wav]], [[Mulaw]], [[Adpcm]]),
  * and the MDCT perceptual-transform audio codec ([[Mdct]]). Only two
  * operators are still deterministic fakes, because this container
  * ships no model or scaler: the feature extractor
  * ([[MediaFeaturesStub]], q_media_features) and the resize scaler
  * (q_media_resize). The Spark-side plumbing is real everywhere:
  * binary column, metadata schema, per-partition batched processing
  * (the Scala analog of `mapInPandas`), and the partitioning/batch
  * shape a real decoder would see at 100 TB.
  */
object Multimodal {

  /** Typed metadata + content hash over a binary media column. Here the
    * "media" is the UTF-8 encoding of `text` — the point is the schema
    * and the byte-level functions, which are mime-agnostic. Oracled:
    * byte length and md5 are byte-exact in both engines.
    */
  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("media", col("text").cast("binary"))
      .select(
        col("doc_id"),
        lit("text/plain").as("mime"),
        length(col("media")).as("n_bytes"),
        md5(col("media")).as("content_md5"))
      .orderBy("doc_id")

  /** Case class row for the typed media pipeline. */
  case class MediaRow(doc_id: Long, media: Array[Byte])
  case class MediaFeatures(doc_id: Long, n_bytes: Int, feat: Array[Float])
  case class MediaPhash(doc_id: Long, w1: Long, w2: Long)
  case class MediaColor(doc_id: Long, r_sum: Long, g_sum: Long, b_sum: Long,
    rg_abs: Long, yb2_abs: Long, dom: String)
  case class MediaPng(doc_id: Long, w: Int, h: Int, roundtrip: Boolean,
    size_ok: Boolean, r_sum: Long, g_sum: Long, b_sum: Long)
  case class MediaJpeg(doc_id: Long, w: Int, h: Int, ok: Boolean,
    size_ok: Boolean, pix_sum: Long, max_err: Int, abs_err: Long)
  case class MediaMjpeg(doc_id: Long, n_frames: Int, ok: Boolean,
    size_ok: Boolean, pix_sum: Long, motion_abs: Long, max_motion: Int)
  case class MediaPvid(doc_id: Long, n_frames: Int, ok: Boolean,
    size_ok: Boolean, mv_abs: Long, pix_sum: Long, max_err: Int,
    abs_err: Long)

  /** Batched partition-wise "decode + featurize": one iterator per
    * partition, so a real decoder would amortize model/codec init across
    * the whole batch — exactly the mapInPandas contract. The decode
    * itself is a clearly-marked deterministic fake; because it's a
    * bounded modular rolling hash, the DuckDB oracle replays it from the
    * payload's hex string and the query is hash-checked end to end.
    */
  object MediaFeaturesStub {
    /** STUB for the real media decoder (PIL/librosa/ffmpeg would go here;
      * not present in this container). Deterministic: 8 pseudo-features
      * derived from byte-windows of the payload.
      */
    def fakeDecode(media: Array[Byte]): Array[Float] = {
      val n = media.length
      Array.tabulate(8) { i =>
        // long math: i * n overflows Int for payloads over ~268 MB
        val start = if (n == 0) 0 else (i.toLong * n / 8).toInt
        val end = if (n == 0) 0 else ((i + 1).toLong * n / 8).toInt
        var acc = 0L
        var j = start
        // modular rolling hash (prime 1000003): bounded, so the DuckDB
        // oracle can replay it in BIGINT arithmetic — Java's wrapping
        // overflow has no SQL twin
        while (j < end) { acc = (acc * 31 + (media(j) & 0xff)) % 1000003L; j += 1 }
        (acc % 1000).toFloat / 1000f
      }
    }
  }

  /** Typed media source shared by the batched decode ops: documents'
    * text bytes standing in for the opaque media payload.
    */
  private def mediaRows(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
      .as[MediaRow]
  }

  private def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaRows(s, dir)
      .mapPartitions { rows =>
        // per-partition init happens once here (codec/model handle)
        rows.map(r => MediaFeatures(r.doc_id, r.media.length,
          MediaFeaturesStub.fakeDecode(r.media)))
      }
      .toDF()
      .select(col("doc_id"), col("n_bytes"),
        round(element_at(col("feat"), 1).cast("double"), 4).as("feat0"),
        round(element_at(col("feat"), 8).cast("double"), 4).as("feat7"))
      .orderBy("doc_id")
  }

  /** "Resize" over a binary payload: fixed-output-size byte
    * downsampling — the media-resize shape (decode → scale → re-encode)
    * with the codec stubbed the same way as MediaFeaturesStub. The
    * thumbnail is produced as a real fixed-size `binary` value in the
    * typed pipeline; the registered query emits its size + content hash.
    * Oracled: the sampling is plain blob indexing, which DuckDB can
    * replay over hex(encode(text)); the hash is md5 over the thumb's HEX
    * string (hex-pair equality = byte equality) because this DuckDB has
    * no md5(BLOB). Pure projection, no shuffle.
    */
  private def mediaResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val targetBytes = 16
    mediaRows(s, dir)
      .mapPartitions { rows =>
        rows.map { r =>
          val n = r.media.length
          // STUB for a real scaler (PIL.Image.resize / ffmpeg scale):
          // sample one byte per output cell, deterministic; long math —
          // i * n overflows Int for payloads over ~134 MB
          val thumb = Array.tabulate(targetBytes) { i =>
            if (n == 0) 0.toByte else r.media((i.toLong * n / targetBytes).toInt)
          }
          (r.doc_id, n, thumb)
        }
      }
      .toDF("doc_id", "orig_bytes", "thumb")
      .select(col("doc_id"), col("orig_bytes"),
        length(col("thumb")).as("thumb_bytes"), md5(hex(col("thumb"))).as("thumb_md5"))
      .orderBy("doc_id")
  }

  /** "Frame sampling" over a binary payload: every k-th fixed-size byte
    * window becomes a frame row with its content hash — the explode shape
    * (media → n frame rows) a video pipeline produces. Oracled: the frame
    * hash is md5 over the window's HEX string (hex-pair equality = byte
    * equality, same convention as mediaResize), which DuckDB replays with
    * substr over hex(encode(text)). Pure projection + explode; scales
    * linearly.
    */
  private def frameSample(s: SparkSession, dir: String): DataFrame = {
    val frameLen = 32
    val stride = 64
    Tables.documents(s, dir)
      .withColumn("media", col("text").cast("binary"))
      .filter(length(col("media")) >= frameLen)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"(length(media) - $frameLen) div $stride")),
          i => md5(hex(col("media").substr(i * stride + 1, lit(frameLen)))))))
      .withColumnRenamed("pos", "frame_no").withColumnRenamed("col", "frame_hash")
      .orderBy("doc_id", "frame_no")
  }

  /** Deterministic uncompressed image fixture + pure-JVM decode + the
    * REAL pHash transform (round 11 — retires the rolling-hash stub):
    *
    *   - `tile` synthesizes a 64×64 grayscale image from a document's
    *     bytes (generator-side fixture: no codecs exist in this
    *     container, and an uncompressed format needs none);
    *   - `encode`/`decode` are a real P5 PGM (binary portable graymap)
    *     writer/parser — magic, ASCII dimensions, maxval, payload — so
    *     the op genuinely round-trips a standard image FORMAT, not a
    *     blob;
    *   - `phash` is the standard pHash recipe (Zauner 2010) in EXACT
    *     INTEGER arithmetic: 2×2 block sums to 32×32, separable 2-D
    *     DCT-II against the FIXED-POINT basis [[DctBasis]]
    *     (round(cos(π(2x+1)u/64)·10⁶) — 8×32 integer constants shared
    *     verbatim with the DuckDB twin, so both engines run the same
    *     integer sums; |coefficient| < 2⁶⁰, overflow-free), 64
    *     low-frequency coefficients (u,v ∈ 0..7) thresholded at their
    *     exact lower median.
    */
  private[graft] object Ppm {
    val W = 64
    val H = 64

    /** 8×32 fixed-point DCT-II basis: B(u,x) = round(cos(π(2x+1)u/64)·1e6).
      * Baked integer constants — both engines consume the same numbers.
      */
    val DctBasis: Array[Array[Long]] = Array.tabulate(8, 32) { (u, x) =>
      Math.round(Math.cos(Math.PI * (2 * x + 1) * u / 64.0) * 1e6)
    }

    /** The image fixture: document bytes tiled to a w·h grayscale
      * payload (empty docs → black).
      */
    def tile(bytes: Array[Byte], len: Int): Array[Byte] =
      if (bytes.isEmpty) new Array[Byte](len)
      else Array.tabulate(len)(i => bytes(i % bytes.length))

    def encode(gray: Array[Byte], w: Int, h: Int): Array[Byte] = pnm('5', 1, gray, w, h)

    /** P6 PPM (binary portable PIXMAP — interleaved RGB, the color
      * sibling of the P5 graymap): same header grammar, 3·w·h payload.
      */
    def encodeP6(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = pnm('6', 3, rgb, w, h)

    private def pnm(magic: Char, ch: Int, px: Array[Byte], w: Int, h: Int): Array[Byte] = {
      require(px.length == ch * w * h,
        s"payload size must be ${if (ch == 1) "" else s"$ch*"}w*h")
      s"P$magic\n$w $h\n255\n".getBytes("US-ASCII") ++ px
    }

    /** Parse a binary P6 PPM; rejects a P5 graymap loudly (wrong
      * channel count is the classic silent-corruption path).
      */
    def decodeP6(ppm: Array[Byte]): (Int, Int, Array[Byte]) = parsePnm(ppm, '6', 3, "PPM")

    /** Parse a binary P5 PGM: magic, whitespace-separated ASCII width/
      * height/maxval, single whitespace, then w·h raw bytes.
      */
    def decode(pgm: Array[Byte]): (Int, Int, Array[Byte]) = parsePnm(pgm, '5', 1, "PGM")

    private def parsePnm(b: Array[Byte], magic: Char, ch: Int,
        kind: String): (Int, Int, Array[Byte]) = {
      require(b.length >= 2 && b(0) == 'P'.toByte && b(1) == magic.toByte,
        s"not a P$magic $kind")
      var i = 2
      def readInt(): Int = {
        while (i < b.length && b(i).toChar.isWhitespace) i += 1
        require(i < b.length && b(i) >= '0'.toByte && b(i) <= '9'.toByte,
          s"malformed $kind header")
        var v = 0
        while (i < b.length && b(i) >= '0'.toByte && b(i) <= '9'.toByte) {
          v = v * 10 + (b(i) - '0'); i += 1
        }
        v
      }
      val w = readInt(); val h = readInt(); val maxv = readInt()
      require(maxv == 255, s"unsupported maxval $maxv")
      i += 1 // the single whitespace byte after maxval
      require(b.length - i >= ch * w * h, s"truncated $kind payload")
      (w, h, java.util.Arrays.copyOfRange(b, i, i + ch * w * h))
    }

    /** 64-bit pHash of a 64×64 grayscale image, packed as two 32-bit
      * words (the q_ann_bq signed-BIGINT lesson). All-integer: block
      * sums, fixed-point DCT, median threshold.
      */
    def phash(px: Array[Byte]): (Long, Long) = {
      val g = Array.ofDim[Long](32, 32) // (y2)(x2) 2×2 block sums
      var y2 = 0
      while (y2 < 32) {
        var x2 = 0
        while (x2 < 32) {
          g(y2)(x2) =
            (px(2 * y2 * W + 2 * x2) & 0xff).toLong +
              (px(2 * y2 * W + 2 * x2 + 1) & 0xff) +
              (px((2 * y2 + 1) * W + 2 * x2) & 0xff) +
              (px((2 * y2 + 1) * W + 2 * x2 + 1) & 0xff)
          x2 += 1
        }
        y2 += 1
      }
      // separable DCT: inner(x, v) = Σ_y g(y)(x)·B(v,y);
      // F(u,v) = Σ_x B(u,x)·inner(x, v)
      val inner = Array.ofDim[Long](32, 8)
      var x = 0
      while (x < 32) {
        var v = 0
        while (v < 8) {
          var acc = 0L; var y = 0
          while (y < 32) { acc += g(y)(x) * DctBasis(v)(y); y += 1 }
          inner(x)(v) = acc; v += 1
        }
        x += 1
      }
      val coeffs = new Array[Long](64)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var acc = 0L; var xx = 0
          while (xx < 32) { acc += DctBasis(u)(xx) * inner(xx)(v); xx += 1 }
          coeffs(u * 8 + v) = acc; v += 1
        }
        u += 1
      }
      val med = coeffs.sorted.apply(31) // exact lower median
      val bits = coeffs.map(c => if (c > med) 1L else 0L)
      def word(lo: Int): Long =
        (lo until lo + 32).foldLeft(0L)((a, k) => a * 2 + bits(k))
      (word(0), word(32))
    }
  }

  /** A real COMPRESSED image codec, pure JVM (round 13 — closes the
    * compressed-codec seam for lossless formats; the stub boundary
    * narrows to lossy codecs): 8-bit truecolor RGB PNG. The encoder
    * emits the standard container — signature, IHDR, one zlib IDAT
    * (java.util.zip.Deflater), IEND — with filter type 0 per
    * scanline; the decoder is a full chunk walk with per-chunk CRC32
    * validation, loud rejection of 16-bit depth / non-RGB color types /
    * Adam7 interlace / unknown CRITICAL chunks (ancillary chunks skip),
    * zlib inflate, and ALL FIVE standard scanline unfilters (None/Sub/
    * Up/Average/Paeth) so foreign encoders' output decodes too.
    * Determinism note: the COMPRESSED bytes depend on the deflate
    * implementation and are never compared — only the decoded pixels
    * (lossless round-trip contract) and the container's guaranteed
    * bounds are oracle-visible.
    */
  private[graft] object Png {
    import java.util.zip.{CRC32, Deflater, Inflater}

    val Signature: Array[Byte] =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def be32(v: Int): Array[Byte] =
      Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

    private def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val t = tag.getBytes("US-ASCII")
      val crc = new CRC32
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }

    /** Encode 8-bit interleaved RGB as a standards-valid PNG (color
      * type 2, filter 0 scanlines, one IDAT).
      */
    def encode(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = {
      require(rgb.length == 3 * w * h, "payload size must be 3*w*h")
      val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
      val stride = 3 * w + 1
      val raw = new Array[Byte](stride * h)
      var y = 0
      while (y < h) {
        raw(y * stride) = 0 // filter type 0 (None)
        System.arraycopy(rgb, y * 3 * w, raw, y * stride + 1, 3 * w)
        y += 1
      }
      val defl = new Deflater // default level, zlib wrapper (PNG requires it)
      defl.setInput(raw); defl.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      defl.end()
      Signature ++ chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }

    /** Decode a truecolor-RGB PNG: chunk walk with CRC validation,
      * inflate, unfilter. Returns (w, h, interleaved RGB).
      */
    def decode(png: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(png.length >= 8 &&
        java.util.Arrays.equals(java.util.Arrays.copyOfRange(png, 0, 8), Signature),
        "not a PNG (bad signature)")
      def rd32(at: Int): Int =
        ((png(at) & 0xff) << 24) | ((png(at + 1) & 0xff) << 16) |
          ((png(at + 2) & 0xff) << 8) | (png(at + 3) & 0xff)
      var i = 8
      var w = -1; var h = -1
      var seenIhdr = false; var seenIend = false
      val idat = new java.io.ByteArrayOutputStream
      while (!seenIend) {
        require(i + 8 <= png.length, "truncated chunk header")
        val len = rd32(i)
        require(len >= 0 && i + 12 + len <= png.length, "truncated chunk")
        val tag = new String(png, i + 4, 4, "US-ASCII")
        val crc = new CRC32
        crc.update(png, i + 4, 4 + len)
        require(crc.getValue.toInt == rd32(i + 8 + len), s"CRC mismatch in $tag")
        tag match {
          case "IHDR" =>
            require(!seenIhdr, "duplicate IHDR"); seenIhdr = true
            require(len == 13, "bad IHDR length")
            w = rd32(i + 8); h = rd32(i + 12)
            require(w > 0 && h > 0, "bad dimensions")
            // cap the raw-buffer size WELL below Int.MaxValue: besides
            // the Int-wrap hazard, a ~100-byte crafted header must not
            // be able to drive a ~2 GiB allocation before any IDAT
            // sanity check runs (ADVICE r13 — decompression/allocation
            // hazard). 256 MiB ≈ an 89-megapixel RGB frame, far above
            // any real still image this tier decodes.
            require((3L * w + 1L) * h <= (1L << 28),
              s"dimensions ${w}x$h exceed the supported pixel budget " +
                "(raw size capped at 256 MiB)")
            val bitDepth = png(i + 16); val colorType = png(i + 17)
            require(bitDepth == 8, s"unsupported bit depth $bitDepth (8 only)")
            require(colorType == 2, s"unsupported color type $colorType (RGB only)")
            require(png(i + 18) == 0 && png(i + 19) == 0,
              "unsupported compression/filter method")
            require(png(i + 20) == 0, "Adam7 interlace unsupported")
          case "IDAT" =>
            require(seenIhdr, "IDAT before IHDR")
            idat.write(png, i + 8, len)
          case "IEND" =>
            require(len == 0, "bad IEND"); seenIend = true
          case other =>
            // ancillary chunks (lowercase first letter) skip; an unknown
            // CRITICAL chunk means we cannot render faithfully — reject
            require(other.head.isLower, s"unknown critical chunk '$other'")
        }
        i += 12 + len
      }
      require(seenIhdr, "missing IHDR")
      val inf = new Inflater
      inf.setInput(idat.toByteArray)
      val stride = 3 * w + 1
      val raw = new Array[Byte](stride * h)
      var off = 0
      while (!inf.finished() && off < raw.length) {
        val n = inf.inflate(raw, off, raw.length - off)
        require(n > 0 || inf.finished(), "truncated/invalid IDAT stream")
        off += n
      }
      // the stream must terminate EXACTLY at the declared size: extra
      // filtered scanlines beyond h would otherwise be silently
      // discarded (the mirror of the too-short rejection below)
      if (!inf.finished()) {
        val probe = new Array[Byte](1)
        val extra = inf.inflate(probe)
        require(extra == 0 && inf.finished(),
          "IDAT decompresses beyond the declared dimensions")
      }
      inf.end()
      require(off == raw.length,
        s"decompressed size $off != expected ${raw.length}")
      // unfilter — the five standard per-scanline filters, bpp = 3
      val out = new Array[Byte](3 * w * h)
      val bpp = 3
      var y = 0
      while (y < h) {
        val f = raw(y * stride) & 0xff
        var x = 0
        while (x < 3 * w) {
          val cur = raw(y * stride + 1 + x) & 0xff
          val a = if (x >= bpp) out(y * 3 * w + x - bpp) & 0xff else 0
          val b = if (y > 0) out((y - 1) * 3 * w + x) & 0xff else 0
          val c = if (x >= bpp && y > 0) out((y - 1) * 3 * w + x - bpp) & 0xff else 0
          val recon = f match {
            case 0 => cur
            case 1 => cur + a
            case 2 => cur + b
            case 3 => cur + (a + b) / 2
            case 4 =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b)
              val pc = math.abs(p - c)
              cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
            case other => fail(s"unknown scanline filter type $other")
          }
          out(y * 3 * w + x) = (recon & 0xff).toByte
          x += 1
        }
        y += 1
      }
      (w, h, out)
    }

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"PNG: $msg")
  }

  /** A real LOSSY image codec, pure JVM (round 14, VERDICT r13 #1 —
    * closes the highest-frequency multimodal stub): baseline sequential
    * JFIF/JPEG (ITU-T T.81).
    *
    * Encoder: 8-bit grayscale, the Annex K quality-50 luminance
    * quantization table (Table K.1) and the Annex K typical Huffman
    * tables (K.3/K.5), single non-interleaved scan, standard zigzag,
    * JFIF APP0. Decoder: the full marker walk (SOI/APP/COM/DQT/DHT/
    * DRI/SOF0/SOS/RST/EOI), canonical Huffman decode, dequantize,
    * integer IDCT, and for 3-component streams the JFIF YCbCr→RGB
    * fixed-point transform with replicated chroma upsampling — so
    * FOREIGN encoders' output (javax.imageio writes 4:2:0 color and
    * 1-component grayscale) decodes too. Loud rejections: progressive
    * (SOF2), extended/lossless/differential SOFs, arithmetic coding
    * (SOF9+/DAC), 12-bit precision, 16-bit quantization tables,
    * 4-component (Adobe CMYK) streams, non-baseline scan parameters,
    * sampling factors beyond 2, oversized dimensions, truncation, and
    * corrupt coefficient magnitudes.
    *
    * DETERMINISM (the PNG-template invariant-oracle rule, upgraded to
    * full value parity): every stage of the DCT runs in STAGED EXACT
    * INTEGER arithmetic — the fixed-point basis [[B4]]
    * (round(cos((2x+1)uπ/16)·10⁴)), the 1/√2 normalizers as 7071/10⁴,
    * and explicit round-half-away-from-zero divisions ([[divHalf]])
    * between stages. Entropy coding is lossless, so
    * encode→decode ≡ fdctQuant→dequant→idct, a pipeline the DuckDB
    * twin replays verbatim in BIGINT arithmetic (magnitude bounds:
    * FDCT |raw·CU| ≤ 8.2·10¹⁵, IDCT |Σ i2·B| ≤ 3.4·10¹⁵ under the
    * enforced |dequantized| ≤ 2¹⁹ coefficient bound — overflow-free).
    */
  private[graft] object Jpeg {
    /** Annex K Table K.1 (luminance, quality 50), natural order:
      * index = v·8+u with v = vertical frequency (table row), u =
      * horizontal frequency (table column).
      */
    val QNat: Array[Int] = Array(
      16, 11, 10, 16, 24, 40, 51, 61,
      12, 12, 14, 19, 26, 58, 60, 55,
      14, 13, 16, 24, 40, 57, 69, 56,
      14, 17, 22, 29, 51, 87, 80, 62,
      18, 22, 37, 56, 68, 109, 103, 77,
      24, 35, 55, 64, 81, 104, 113, 92,
      49, 64, 78, 87, 103, 121, 120, 101,
      72, 92, 95, 98, 112, 100, 103, 99)

    /** Zigzag scan: position k → natural index (v·8+u), generated by
      * the standard diagonal walk (no baked table to typo).
      */
    val Zigzag: Array[Int] = {
      val out = new Array[Int](64)
      var r = 0; var c = 0
      for (k <- 0 until 64) {
        out(k) = r * 8 + c
        if ((r + c) % 2 == 0) {
          if (c == 7) r += 1 else if (r == 0) c += 1 else { r -= 1; c += 1 }
        } else {
          if (r == 7) c += 1 else if (c == 0) r += 1 else { r += 1; c -= 1 }
        }
      }
      out
    }

    /** 8×8 fixed-point DCT basis at scale 10⁴:
      * B4(u,x) = round(cos((2x+1)uπ/16)·10⁴). Small enough that all
      * staged products stay far inside int64; both engines consume the
      * same integers.
      */
    val B4: Array[Array[Long]] = Array.tabulate(8, 8) { (u, x) =>
      Math.round(Math.cos(Math.PI * (2 * x + 1) * u / 16.0) * 1e4)
    }

    /** cu normalizer at scale 10⁴: 1/√2 → 7071 for frequency 0. */
    def cu4(u: Int): Long = if (u == 0) 7071L else 10000L

    /** Round half away from zero — the one integer division both
      * engines share verbatim (b > 0; the SQL twin spells the same
      * two-branch CASE).
      */
    def divHalf(a: Long, b: Long): Long =
      if (a >= 0) (a + b / 2) / b else -((-a + b / 2) / b)

    /** Annex K Table K.2 (chrominance, quality 50), natural order —
      * the color encoder's second quantization table (round 15).
      */
    val QChromaNat: Array[Int] = Array(
      17, 18, 24, 47, 99, 99, 99, 99,
      18, 21, 26, 66, 99, 99, 99, 99,
      24, 26, 56, 99, 99, 99, 99, 99,
      47, 66, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99)

    /** Forward DCT + quantize, all-integer: input 64 level-shifted
      * samples in spatial raster (y·8+x), output 64 quantized
      * coefficients in natural order (v·8+u). `QNat` (luma) by
      * default; the color encoder passes [[QChromaNat]] for the
      * chroma blocks.
      */
    def fdctQuant(s: Array[Int], q: Array[Int] = QNat): Array[Int] = {
      val inner = Array.ofDim[Long](8, 8) // (x)(v) = Σ_y s(y,x)·B4(v,y)
      var x = 0
      while (x < 8) {
        var v = 0
        while (v < 8) {
          var acc = 0L; var y = 0
          while (y < 8) { acc += s(y * 8 + x) * B4(v)(y); y += 1 }
          inner(x)(v) = acc; v += 1
        }
        x += 1
      }
      val out = new Array[Int](64)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var raw = 0L; var xx = 0
          while (xx < 8) { raw += inner(xx)(v) * B4(u)(xx); xx += 1 }
          val r2 = divHalf(raw * cu4(u), 10000L)
          val r3 = divHalf(r2 * cu4(v), 10000L)
          out(v * 8 + u) = divHalf(r3, 4L * q(v * 8 + u) * 100000000L).toInt
          v += 1
        }
        u += 1
      }
      out
    }

    /** Inverse DCT over DEQUANTIZED coefficients (natural order
      * v·8+u), staged exactly like the SQL twin; returns 64 clamped
      * pixels in spatial raster: [[idctResidual]] plus the +128 level
      * shift and the [0,255] clamp.
      */
    def idctBlock(d: Array[Long]): Array[Int] =
      idctResidual(d).map(p => math.max(0, math.min(255, p + 128)))

    /** Inverse DCT for RESIDUAL blocks, without the level shift or the
      * clamp — a P-frame decoder clamps the RECONSTRUCTION (prediction
      * + residual), not the residual itself. The |d| ≤ 2¹⁹ bound is
      * enforced by the caller ([[readBlock]]) so every stage stays
      * inside int64.
      */
    def idctResidual(d: Array[Long]): Array[Int] = {
      val t = Array.ofDim[Long](8, 8) // (u)(v)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          t(u)(v) = divHalf(d(v * 8 + u) * cu4(u) * cu4(v), 10000L)
          v += 1
        }
        u += 1
      }
      val i2 = Array.ofDim[Long](8, 8) // (u)(y) = round(Σ_v t·B4(v,y) / 1e4)
      u = 0
      while (u < 8) {
        var y = 0
        while (y < 8) {
          var acc = 0L; var v = 0
          while (v < 8) { acc += t(u)(v) * B4(v)(y); v += 1 }
          i2(u)(y) = divHalf(acc, 10000L); y += 1
        }
        u += 1
      }
      val out = new Array[Int](64)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0L; var uu = 0
          while (uu < 8) { acc += i2(uu)(y) * B4(uu)(x); uu += 1 }
          out(y * 8 + x) = divHalf(acc, 400000000L).toInt
          x += 1
        }
        y += 1
      }
      out
    }

    // ---- Annex K typical Huffman tables (luminance) ----
    val DcLumBits: Array[Int] =
      Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    val DcLumVals: Array[Int] = (0 to 11).toArray
    val AcLumBits: Array[Int] =
      Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
    val AcLumVals: Array[Int] = Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
      0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
      0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
      0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
      0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
      0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
      0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
      0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
      0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
      0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
      0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
      0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
      0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
      0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
      0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
      0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
      0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
      0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
      0xf9, 0xfa)

    // ---- Annex K typical Huffman tables (chrominance, K.4/K.6) ----
    val DcChromBits: Array[Int] =
      Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
    val DcChromVals: Array[Int] = (0 to 11).toArray
    val AcChromBits: Array[Int] =
      Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
    val AcChromVals: Array[Int] = Array(
      0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
      0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
      0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
      0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
      0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
      0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
      0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
      0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
      0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
      0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
      0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
      0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
      0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
      0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
      0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
      0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
      0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
      0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
      0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
      0xf9, 0xfa)

    /** Canonical code assignment (T.81 Annex C): (value, code, length)
      * in table order — the one walk both the encoder's value → code
      * map and the decoder's code → value table derive from.
      */
    private def canonical(bits: Array[Int], vals: Array[Int]): Seq[(Int, Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int, Int)]
      var code = 0; var k = 0
      for (len <- 1 to 16) {
        for (_ <- 0 until bits(len - 1)) {
          out += ((vals(k), code, len)); code += 1; k += 1
        }
        code <<= 1
      }
      out.result()
    }

    private def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] =
      canonical(bits, vals).map { case (v, code, len) => v -> ((code, len)) }.toMap

    private val DcLumCodes = huffCodes(DcLumBits, DcLumVals)
    private val AcLumCodes = huffCodes(AcLumBits, AcLumVals)
    private val DcChromCodes = huffCodes(DcChromBits, DcChromVals)
    private val AcChromCodes = huffCodes(AcChromBits, AcChromVals)

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"JPEG: $msg")

    // ---- encoder ----
    private final class BitWriter {
      val out = new java.io.ByteArrayOutputStream
      private var buf = 0L
      private var cnt = 0
      def put(bits: Int, len: Int): Unit = {
        buf = (buf << len) | (bits & ((1L << len) - 1))
        cnt += len
        while (cnt >= 8) {
          val b = ((buf >> (cnt - 8)) & 0xff).toInt
          out.write(b)
          if (b == 0xff) out.write(0) // byte stuffing
          cnt -= 8
        }
        buf &= (1L << cnt) - 1
      }
      /** pad the final partial byte with 1-bits (T.81 F.1.2.3) */
      def finish(): Unit = if (cnt > 0) {
        val b = (((buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0)
        cnt = 0; buf = 0L
      }
    }

    private def bitSize(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

    private def be16(v: Int): Array[Byte] =
      Array(((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

    private def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte) ++ be16(payload.length + 2) ++ payload

    /** Entropy-code ONE quantized coefficient block (natural order):
      * DC difference against `pred` (SSSS category + magnitude bits),
      * AC zigzag run-lengths with ZRL/EOB — the single T.81 F.1.2
      * block writer shared by the gray, color, and P-frame encoders.
      * Returns the new DC predictor (coef(0)).
      */
    private def writeBlock(bw: BitWriter, coef: Array[Int], pred: Int,
        dc: Map[Int, (Int, Int)], ac: Map[Int, (Int, Int)]): Int = {
      val diff = coef(0) - pred
      val ds = bitSize(diff)
      require(ds <= 11, "DC difference out of 8-bit baseline range")
      val (c0, l0) = dc(ds)
      bw.put(c0, l0)
      if (ds > 0) bw.put(if (diff >= 0) diff else diff + (1 << ds) - 1, ds)
      var run = 0
      var k = 1
      while (k < 64) {
        val c = coef(Zigzag(k))
        if (c == 0) run += 1
        else {
          while (run >= 16) { val (z, zl) = ac(0xf0); bw.put(z, zl); run -= 16 }
          val as = bitSize(c)
          require(as <= 10, "AC coefficient out of 8-bit baseline range")
          val (a1, al) = ac((run << 4) | as)
          bw.put(a1, al)
          bw.put(if (c >= 0) c else c + (1 << as) - 1, as)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (e, el) = ac(0x00); bw.put(e, el) } // EOB
      coef(0)
    }

    /** The 8×8 block at (ox, oy) of a pw×ph sample plane, spatial raster
      * (y·8+x). Coordinates clamp into the plane, so a partial edge
      * block replicates the last row/column and a motion-compensated
      * block samples the nearest border pixel.
      */
    private def planeBlock(p: Array[Int], pw: Int, ph: Int, ox: Int, oy: Int): Array[Int] =
      Array.tabulate(64) { i =>
        p(math.max(0, math.min(ph - 1, oy + i / 8)) * pw +
          math.max(0, math.min(pw - 1, ox + i % 8)))
      }

    private def bytes(xs: collection.Seq[Int]): Array[Byte] = xs.map(_.toByte).toArray

    /** Wrap entropy-coded scan data in a baseline JFIF: SOI, APP0
      * (v1.1, no density/thumbnail), one 8-bit DQT per table (id = its
      * index), SOF0, one DHT per (class/id, bits, values), a DRI when
      * `restartInterval` > 0, the one SOS over every component, EOI.
      * `comps` holds each component's (id, sampling factors, tq, td/ta).
      */
    private def jfif(w: Int, h: Int, qs: Seq[Array[Int]],
        comps: Seq[(Int, Int, Int, Int)], dhts: Seq[(Int, Array[Int], Array[Int])],
        restartInterval: Int, scan: Array[Byte]): Array[Byte] = {
      val app0 = "JFIF".getBytes("US-ASCII") ++ // null-terminated per spec
        bytes(Seq(0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
      val dqt = qs.indices.map(tq =>
        seg(0xdb, bytes(tq +: Zigzag.toSeq.map(qs(tq)))))
      val sof = bytes(Seq(8) ++ Seq(h >> 8, h, w >> 8, w, comps.size) ++
        comps.flatMap { case (id, hv, tq, _) => Seq(id, hv, tq) })
      val dht = dhts.map { case (tcth, bits, vals) => seg(0xc4, bytes(tcth +: (bits ++ vals))) }
      val dri =
        if (restartInterval > 0) seg(0xdd, be16(restartInterval))
        else Array.emptyByteArray
      val sos = bytes(comps.size +: comps.flatMap { case (id, _, _, t) => Seq(id, t) } ++: Seq(0, 63, 0))
      (Seq(bytes(Seq(0xff, 0xd8)), seg(0xe0, app0)) ++ dqt ++ Seq(seg(0xc0, sof)) ++
        dht ++ Seq(dri, seg(0xda, sos), scan, bytes(Seq(0xff, 0xd9)))).reduce(_ ++ _)
    }

    private val LumDht = Seq((0x00, DcLumBits, DcLumVals), (0x10, AcLumBits, AcLumVals))

    /** Encode 8-bit grayscale as baseline JFIF: Annex K Q50 luminance
      * quantization, Annex K typical Huffman tables, one
      * non-interleaved scan, edge-replicated partial blocks. A
      * positive `restartInterval` emits a DRI segment and RSTn
      * markers every that-many MCUs (decoder-coverage path; the
      * fixture queries use 0).
      */
    def encodeGray(px: Array[Byte], w: Int, h: Int,
        restartInterval: Int = 0): Array[Byte] = {
      require(px.length == w * h, "payload size must be w*h")
      require(w > 0 && h > 0 && w <= 65535 && h <= 65535, "bad dimensions")
      val plane = px.map(_ & 0xff)
      val bw = new BitWriter
      val blocksX = (w + 7) / 8
      var pred = 0
      var rstCnt = 0
      var mcu = 0
      while (mcu < blocksX * ((h + 7) / 8)) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.finish() // byte-align, pad with 1s
          bw.out.write(0xff); bw.out.write(0xd0 | (rstCnt & 7))
          rstCnt += 1
          pred = 0
        }
        val blk = planeBlock(plane, w, h, mcu % blocksX * 8, mcu / blocksX * 8)
        pred = writeBlock(bw, fdctQuant(blk.map(_ - 128)), pred, DcLumCodes, AcLumCodes)
        mcu += 1
      }
      bw.finish()
      jfif(w, h, Seq(QNat), Seq((1, 0x11, 0, 0x00)), LumDht, restartInterval,
        bw.out.toByteArray)
    }

    /** The decoder's YCbCr→RGB fixed-point constants (scale 2¹⁶) —
      * hoisted so the color-codec oracle interpolates the SAME baked
      * integers the decode path multiplies by.
      */
    val YccC1: Int = Math.round(1.402 * 65536).toInt
    val YccC2: Int = Math.round(0.344136 * 65536).toInt
    val YccC3: Int = Math.round(0.714136 * 65536).toInt
    val YccC4: Int = Math.round(1.772 * 65536).toInt

    /** JFIF forward RGB→YCbCr in the same fixed-point discipline as
      * the decoder's inverse (scale 10⁴, [[divHalf]], clamp): the
      * coefficient rows sum exactly to the scale (2990+5870+1140 =
      * 10⁴; 1687+3313 = 4187+813 = 5000), so the transform is an
      * exact-integer map both engines replay verbatim.
      */
    def rgbToYcc(r: Int, g: Int, b: Int): (Int, Int, Int) = {
      def cl(v: Long): Int = math.max(0L, math.min(255L, v)).toInt
      (cl(divHalf(2990L * r + 5870L * g + 1140L * b, 10000L)),
        cl(128L + divHalf(-1687L * r - 3313L * g + 5000L * b, 10000L)),
        cl(128L + divHalf(5000L * r - 4187L * g - 813L * b, 10000L)))
    }

    /** Encode interleaved RGB as baseline 4:2:0 color JFIF (round 15
      * — the decoder handled foreign 3-component streams since r14;
      * this closes the image codec in BOTH directions): JFIF forward
      * [[rgbToYcc]], deterministic 2×2-mean chroma subsampling
      * (round half up, edge-replicated), Annex K quantization (K.1
      * luma / K.2 chroma) and typical Huffman tables (K.3/K.5 luma,
      * K.4/K.6 chroma), one interleaved scan of 16×16 MCUs (4 Y
      * blocks raster-ordered, then Cb, then Cr; per-component DC
      * predictors). Every stage is exact integer, so the DuckDB twin
      * replays the full encode→decode pixel pipeline in BIGINT.
      */
    def encodeColor(rgb: Array[Byte], w: Int, h: Int): Array[Byte] = {
      require(rgb.length == 3 * w * h, "payload size must be 3*w*h")
      require(w > 0 && h > 0 && w <= 65535 && h <= 65535, "bad dimensions")
      val n = w * h
      val yp = new Array[Int](n)
      val cbF = new Array[Int](n)
      val crF = new Array[Int](n)
      var i = 0
      while (i < n) {
        val (yy, cb, cr) = rgbToYcc(
          rgb(3 * i) & 0xff, rgb(3 * i + 1) & 0xff, rgb(3 * i + 2) & 0xff)
        yp(i) = yy; cbF(i) = cb; crF(i) = cr
        i += 1
      }
      // 4:2:0: 2×2 mean per chroma sample (values non-negative, so
      // (sum+2)/4 IS round half up), edges replicated for odd dims
      val cw = (w + 1) / 2; val ch = (h + 1) / 2
      val cbs = new Array[Int](cw * ch)
      val crs = new Array[Int](cw * ch)
      var cy = 0
      while (cy < ch) {
        var cx = 0
        while (cx < cw) {
          val x0 = 2 * cx; val x1 = math.min(2 * cx + 1, w - 1)
          val y0 = 2 * cy; val y1 = math.min(2 * cy + 1, h - 1)
          def m(p: Array[Int]): Int =
            (p(y0 * w + x0) + p(y0 * w + x1) + p(y1 * w + x0) + p(y1 * w + x1) + 2) / 4
          cbs(cy * cw + cx) = m(cbF)
          crs(cy * cw + cx) = m(crF)
          cx += 1
        }
        cy += 1
      }
      val bw = new BitWriter
      val preds = Array(0, 0, 0)
      def block(p: Array[Int], pw: Int, ph: Int, ox: Int, oy: Int,
          q: Array[Int], dc: Map[Int, (Int, Int)], ac: Map[Int, (Int, Int)],
          ci: Int): Unit = {
        val coef = fdctQuant(planeBlock(p, pw, ph, ox, oy).map(_ - 128), q)
        preds(ci) = writeBlock(bw, coef, preds(ci), dc, ac)
      }
      val mcuX = (w + 15) / 16; val mcuY = (h + 15) / 16
      var my = 0
      while (my < mcuY) {
        var mx = 0
        while (mx < mcuX) {
          var j = 0
          while (j < 4) {
            block(yp, w, h, mx * 16 + (j % 2) * 8, my * 16 + (j / 2) * 8,
              QNat, DcLumCodes, AcLumCodes, 0)
            j += 1
          }
          block(cbs, cw, ch, mx * 8, my * 8, QChromaNat, DcChromCodes, AcChromCodes, 1)
          block(crs, cw, ch, mx * 8, my * 8, QChromaNat, DcChromCodes, AcChromCodes, 2)
          mx += 1
        }
        my += 1
      }
      bw.finish()
      jfif(w, h, Seq(QNat, QChromaNat),
        Seq((1, 0x22, 0, 0x00), (2, 0x11, 1, 0x11), (3, 0x11, 1, 0x11)),
        LumDht ++ Seq((0x01, DcChromBits, DcChromVals), (0x11, AcChromBits, AcChromVals)),
        0, bw.out.toByteArray)
    }

    // ---- decoder ----
    private final class BitReader(data: Array[Byte], var pos: Int) {
      private var bitBuf = 0
      private var bitCnt = 0
      def readBit(): Int = {
        if (bitCnt == 0) {
          require(pos < data.length, "truncated entropy stream")
          val b = data(pos) & 0xff; pos += 1
          if (b == 0xff) {
            require(pos < data.length, "truncated entropy stream")
            val b2 = data(pos) & 0xff; pos += 1
            if (b2 != 0x00)
              fail(f"unexpected marker 0xff$b2%02x inside entropy data")
          }
          bitBuf = b; bitCnt = 8
        }
        bitCnt -= 1
        (bitBuf >> bitCnt) & 1
      }
      def align(): Unit = bitCnt = 0
      private def require(ok: Boolean, msg: => String): Unit =
        if (!ok) fail(msg)
    }

    private final class HuffTable(map: Map[Int, Int]) {
      def decode(br: BitReader): Int = {
        var code = 0; var len = 0
        while (len < 16) {
          code = (code << 1) | br.readBit(); len += 1
          map.get((len << 16) | code) match {
            case Some(v) => return v
            case None =>
          }
        }
        fail("invalid Huffman code (no match within 16 bits)")
      }
    }

    private def buildHuff(bits: Array[Int], vals: Array[Int]): HuffTable =
      new HuffTable(canonical(bits, vals).map { case (v, code, len) => ((len << 16) | code) -> v }.toMap)

    /** EXTEND (T.81 F.2.2.1): map the SSSS magnitude bits to a signed
      * value.
      */
    private def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

    /** Read ONE entropy-coded block (T.81 F.2.2): the DC difference
      * added to `preds(ci)`, the AC run-lengths with ZRL/EOB, each
      * coefficient dequantized by `q` into natural order. Rejects
      * corrupt size categories, runs past the block, and any
      * |dequantized| > 2¹⁹ — the bound that keeps the staged IDCT
      * inside int64 — so every decoder (baseline scan and P frame)
      * hands the IDCT only bounded coefficients.
      */
    private def readBlock(br: BitReader, dc: HuffTable, ac: HuffTable,
        q: Array[Int], preds: Array[Int], ci: Int): Array[Long] = {
      val d = new Array[Long](64)
      val dcs = dc.decode(br)
      if (dcs > 11) fail("corrupt DC size category")
      var bitsv = 0
      for (_ <- 0 until dcs) bitsv = (bitsv << 1) | br.readBit()
      preds(ci) += extend(bitsv, dcs)
      d(0) = preds(ci).toLong * q(0)
      if (math.abs(d(0)) > (1L << 19)) fail("corrupt DC coefficient magnitude")
      var k = 1
      var open = true
      while (open && k < 64) {
        val rs = ac.decode(br)
        val run = rs >> 4; val size = rs & 15
        if (size == 0) {
          if (run == 15) k += 16 // ZRL
          else open = false // EOB
        } else {
          if (size > 10) fail("corrupt AC size category")
          k += run
          if (k > 63) fail("AC run past end of block")
          var av = 0
          for (_ <- 0 until size) av = (av << 1) | br.readBit()
          val nat = Zigzag(k)
          d(nat) = extend(av, size).toLong * q(nat)
          if (math.abs(d(nat)) > (1L << 19)) fail("corrupt AC coefficient magnitude")
          k += 1
        }
      }
      d
    }

    private case class Component(id: Int, hs: Int, vs: Int, tq: Int) {
      var td: Int = 0
      var ta: Int = 0
    }

    /** Decode a baseline JPEG. Returns (w, h, nComponents, pixels) —
      * grayscale bytes for 1 component, interleaved RGB for 3.
      */
    def decode(jpg: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
      val (w, h, nc, px, _) = decodeFrom(jpg, 0)
      (w, h, nc, px)
    }

    /** [[decode]] from an offset, also returning the position just
      * past the frame's EOI — the MJPEG stream walk ([[Mjpeg]])
      * decodes concatenated JFIF frames with it.
      */
    def decodeFrom(jpg: Array[Byte],
        start: Int): (Int, Int, Int, Array[Byte], Int) = {
      if (jpg.length < start + 4 || (jpg(start) & 0xff) != 0xff ||
          (jpg(start + 1) & 0xff) != 0xd8)
        fail("not a JPEG (missing SOI)")
      var i = start + 2
      def u8(at: Int): Int = { if (at >= jpg.length) fail("truncated"); jpg(at) & 0xff }
      def u16(at: Int): Int = (u8(at) << 8) | u8(at + 1)
      val qtabs = new Array[Array[Int]](4) // natural order
      val dcTabs = new Array[HuffTable](4)
      val acTabs = new Array[HuffTable](4)
      var comps: Array[Component] = null
      var w = 0; var h = 0
      var restartInterval = 0
      var planes: Array[Array[Int]] = null // per comp, padded plane raster
      var planeW: Array[Int] = null
      var planeH: Array[Int] = null

      def parseSof(at: Int, len: Int, code: Int): Unit = {
        code match {
          case 0xc0 => // baseline — supported
          case 0xc2 => fail("progressive JPEG unsupported (baseline sequential only)")
          case 0xc1 => fail("extended sequential JPEG unsupported (baseline only)")
          case 0xc3 | 0xc7 | 0xcb | 0xcf => fail("lossless JPEG unsupported")
          case 0xc5 | 0xc6 | 0xcd | 0xce => fail("differential JPEG unsupported")
          case 0xc9 | 0xca => fail("arithmetic-coded JPEG unsupported (Huffman baseline only)")
          case other => fail(f"unsupported SOF marker 0xff$other%02x")
        }
        val prec = u8(at)
        if (prec != 8) fail(s"unsupported sample precision $prec (8-bit only)")
        if (comps != null)
          fail("duplicate SOF marker (frame parameters already set)")
        h = u16(at + 1); w = u16(at + 3)
        if (w <= 0 || h <= 0) fail("bad dimensions")
        // budget the ALLOCATION, not the pixel count: decodeScan
        // allocates Int planes (4 B/sample, up to 3 components) plus
        // the 3-byte RGB assembly — cap the worst case (12 B/px of
        // planes + 3 B/px output, ~15 B/px) at 256 MiB so a crafted
        // ~200-byte header cannot drive GiB-scale allocation before
        // any entropy data is validated (ADVICE r14)
        if (15L * w * h > (1L << 28))
          fail(s"dimensions ${w}x$h exceed the supported allocation budget")
        val nf = u8(at + 5)
        if (nf == 4) fail("4-component (Adobe CMYK/YCCK) JPEG unsupported")
        if (nf != 1 && nf != 3) fail(s"unsupported component count $nf (1 or 3)")
        if (len != 8 + 3 * nf) fail("bad SOF length")
        comps = Array.tabulate(nf) { c =>
          val id = u8(at + 6 + 3 * c)
          val hv = u8(at + 7 + 3 * c)
          val tq = u8(at + 8 + 3 * c)
          val hs = hv >> 4; val vs = hv & 15
          if (hs < 1 || hs > 2 || vs < 1 || vs > 2)
            fail(s"unsupported sampling factor ${hs}x$vs (1 or 2 only)")
          if (tq > 3) fail("bad quantization table selector")
          Component(id, hs, vs, tq)
        }
        if (nf == 1 && (comps(0).hs != 1 || comps(0).vs != 1))
          fail("subsampled single-component stream is malformed")
      }

      def decodeScan(at: Int): Int = {
        val ns = u8(at)
        if (comps == null) fail("SOS before SOF")
        if (ns != comps.length)
          fail("multi-scan baseline streams unsupported (one interleaved scan)")
        for (c <- 0 until ns) {
          val cs = u8(at + 1 + 2 * c)
          val comp = comps.find(_.id == cs).getOrElse(fail(s"unknown scan component $cs"))
          val tdta = u8(at + 2 + 2 * c)
          comp.td = tdta >> 4; comp.ta = tdta & 15
        }
        val ss = u8(at + 1 + 2 * ns); val se = u8(at + 2 + 2 * ns)
        val ahal = u8(at + 3 + 2 * ns)
        if (ss != 0 || se != 63 || ahal != 0)
          fail("non-baseline scan parameters (progressive/partial scan)")
        val maxH = comps.map(_.hs).max
        val maxV = comps.map(_.vs).max
        val mcusX = (w + 8 * maxH - 1) / (8 * maxH)
        val mcusY = (h + 8 * maxV - 1) / (8 * maxV)
        planeW = comps.map(c => mcusX * c.hs * 8)
        planeH = comps.map(c => mcusY * c.vs * 8)
        planes = Array.tabulate(comps.length)(c =>
          new Array[Int](planeW(c) * planeH(c)))
        for (c <- comps) {
          if (qtabs(c.tq) == null) fail(s"missing quantization table ${c.tq}")
          if (dcTabs(c.td) == null) fail(s"missing DC Huffman table ${c.td}")
          if (acTabs(c.ta) == null) fail(s"missing AC Huffman table ${c.ta}")
        }
        val br = new BitReader(jpg, at + 4 + 2 * ns)
        val preds = new Array[Int](comps.length)
        var mcu = 0
        var rstCnt = 0
        val totalMcus = mcusX * mcusY
        while (mcu < totalMcus) {
          if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
            br.align()
            if (u8(br.pos) != 0xff || u8(br.pos + 1) != (0xd0 | (rstCnt & 7)))
              fail(f"expected restart marker RST${rstCnt & 7} at MCU $mcu")
            br.pos += 2
            rstCnt += 1
            java.util.Arrays.fill(preds, 0)
          }
          val my = mcu / mcusX; val mx = mcu % mcusX
          var ci = 0
          while (ci < comps.length) {
            val c = comps(ci)
            val q = qtabs(c.tq)
            var by = 0
            while (by < c.vs) {
              var bx = 0
              while (bx < c.hs) {
                val d = readBlock(br, dcTabs(c.td), acTabs(c.ta), q, preds, ci)
                val pxb = idctBlock(d)
                val x0 = (mx * c.hs + bx) * 8; val y0 = (my * c.vs + by) * 8
                var yy = 0
                while (yy < 8) {
                  var xx = 0
                  while (xx < 8) {
                    planes(ci)((y0 + yy) * planeW(ci) + x0 + xx) = pxb(yy * 8 + xx)
                    xx += 1
                  }
                  yy += 1
                }
                bx += 1
              }
              by += 1
            }
            ci += 1
          }
          mcu += 1
        }
        br.align()
        br.pos
      }

      var pixelsDone = false
      var endPos = -1
      while (endPos < 0) {
        if (i >= jpg.length) fail("truncated (no EOI)")
        if (u8(i) != 0xff) fail(f"expected marker, got 0x${u8(i)}%02x")
        var m = u8(i + 1)
        var j = i + 1
        while (m == 0xff) { j += 1; m = u8(j) } // fill bytes
        i = j + 1
        m match {
          case 0xd9 => // EOI
            if (!pixelsDone) fail("EOI before any scan")
            endPos = i
          case 0x01 => // TEM — standalone
          case n if n >= 0xd0 && n <= 0xd7 =>
            fail("restart marker outside entropy data")
          case 0xda =>
            if (pixelsDone) fail("multi-scan baseline streams unsupported")
            val len = u16(i)
            i = decodeScan(i + 2)
            pixelsDone = true
            val _ = len
          case 0xdb =>
            val len = u16(i)
            var p = i + 2
            while (p < i + len) {
              val pqtq = u8(p)
              if ((pqtq >> 4) != 0)
                fail("16-bit quantization tables unsupported (8-bit baseline)")
              val tq = pqtq & 15
              if (tq > 3) fail("bad quantization table id")
              val tab = new Array[Int](64)
              for (k <- 0 until 64) tab(Zigzag(k)) = u8(p + 1 + k)
              if (tab.exists(_ == 0)) fail("zero quantization table entry")
              qtabs(tq) = tab
              p += 65
            }
            i += len
          case 0xc4 =>
            val len = u16(i)
            var p = i + 2
            while (p < i + len) {
              val tcth = u8(p)
              val tc = tcth >> 4; val th = tcth & 15
              if (tc > 1 || th > 3) fail("bad Huffman table class/id")
              val bits = Array.tabulate(16)(k => u8(p + 1 + k))
              val total = bits.sum
              if (total > 256) fail("bad Huffman table (too many codes)")
              val vals = Array.tabulate(total)(k => u8(p + 17 + k))
              if (tc == 0) dcTabs(th) = buildHuff(bits, vals)
              else acTabs(th) = buildHuff(bits, vals)
              p += 17 + total
            }
            i += len
          case 0xcc => fail("arithmetic-coded JPEG unsupported (Huffman baseline only)")
          case 0xdd =>
            restartInterval = u16(i + 2)
            i += u16(i)
          case 0xdc => fail("DNL (deferred height) unsupported")
          case n if (n >= 0xc0 && n <= 0xcf) && n != 0xc4 && n != 0xc8 =>
            val len = u16(i)
            parseSof(i + 2, len, n)
            i += len
          case 0xc8 => fail("JPG extension marker unsupported")
          case n if n >= 0xe0 && n <= 0xef => i += u16(i) // APPn
          case 0xfe => i += u16(i) // COM
          case other => fail(f"unsupported marker 0xff$other%02x")
        }
      }

      val nf = comps.length
      if (nf == 1) {
        val out = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            out(y * w + x) = planes(0)(y * planeW(0) + x).toByte
            x += 1
          }
          y += 1
        }
        (w, h, 1, out, endPos)
      } else {
        // JFIF YCbCr→RGB in 16-bit fixed point; chroma planes sample by
        // replication (x·hs/maxH) — the documented upsampling dialect
        val maxH = comps.map(_.hs).max
        val maxV = comps.map(_.vs).max
        val c1 = YccC1; val c2 = YccC2; val c3 = YccC3; val c4 = YccC4
        def clamp(v: Long): Int = math.max(0L, math.min(255L, v)).toInt
        val out = new Array[Byte](3 * w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            def samp(ci: Int): Int = {
              val c = comps(ci)
              val sx = x * c.hs / maxH; val sy = y * c.vs / maxV
              planes(ci)(sy * planeW(ci) + sx)
            }
            val yy = samp(0).toLong
            val cb = samp(1) - 128L
            val cr = samp(2) - 128L
            out(3 * (y * w + x)) = clamp(yy + divHalf(c1 * cr, 65536L)).toByte
            out(3 * (y * w + x) + 1) =
              clamp(yy - divHalf(c2 * cb + c3 * cr, 65536L)).toByte
            out(3 * (y * w + x) + 2) = clamp(yy + divHalf(c4 * cb, 65536L)).toByte
            x += 1
          }
          y += 1
        }
        (w, h, 3, out, endPos)
      }
    }

    /** Motion JPEG: the standard concatenated-JFIF stream form (what
      * MJPEG-over-HTTP and many AVI payloads carry). Decode = walk
      * SOI→EOI frames with [[decodeFrom]]; 0xffd8 cannot occur inside
      * entropy data (stuffing), so frame boundaries are unambiguous.
      */
    object Mjpeg {
      def encode(frames: Seq[(Array[Byte], Int, Int)]): Array[Byte] =
        frames.toArray.flatMap { case (px, w, h) => Jpeg.encodeGray(px, w, h) }

      /** Returns per-frame (w, h, nComponents, pixels). */
      def decode(stream: Array[Byte]): Vector[(Int, Int, Int, Array[Byte])] = {
        if (stream.isEmpty) fail("empty MJPEG stream")
        val out = Vector.newBuilder[(Int, Int, Int, Array[Byte])]
        var pos = 0
        while (pos < stream.length) {
          val (w, h, nc, px, end) = Jpeg.decodeFrom(stream, pos)
          out += ((w, h, nc, px))
          require(end > pos, "frame made no progress")
          pos = end
        }
        out.result()
      }
    }

    /** Inter-frame (P-frame) video codec — the H.261/MPEG-class
      * motion-compensation layer on the engine's staged-integer
      * transform, closing the video seam MJPEG left open (every
      * frame intra): frame 0 is a REAL baseline JFIF intra frame
      * ([[encodeGray]]); each P frame codes, per raster-ordered 8×8
      * block, a full-search motion vector (±2 px, SAD argmin over
      * the RECONSTRUCTED reference with edge-clamped sampling, ties
      * to the smallest (dy, dx) in scan order) and the quantized
      * residual DCT (Annex K.1 quantization, Annex K typical Huffman
      * entropy coding with a per-frame DC predictor chain — the
      * MPEG-1 picture-layer shape with JPEG's VLC tables). Quantized
      * coefficients saturate at the baseline Huffman range
      * (|AC| ≤ 1023, so |DC diff| ≤ 2046 — the encoder-side clamp
      * every rate-controlled encoder applies); the decoder
      * reconstructs clamp(prediction + residual'), and because
      * entropy coding is lossless and every transform stage is exact
      * integer, the DuckDB twin replays motion search, residual
      * transform, and reconstruction value-for-value.
      *
      * Container (engine-native elementary stream, the [[Mdct]]
      * precedent — the public-spec content is the MC + transform
      * layer): "GPV1", be16 w, be16 h, u8 frame count, frame 0 as
      * be32 length + JFIF bytes, each P frame as be32 length +
      * per-block [s8 dy, s8 dx] pairs + byte-stuffed entropy payload.
      */
    object Pvid {
      val SearchR = 2

      /** Block (by, bx) of a w-wide frame ← clamp(prediction + residual). */
      private def reconstruct(recon: Array[Int], w: Int, by: Int, bx: Int,
          pd: Array[Int], resd: Array[Int]): Unit = {
        var i = 0
        while (i < 64) {
          recon((by * 8 + i / 8) * w + bx * 8 + i % 8) =
            math.max(0, math.min(255, pd(i) + resd(i)))
          i += 1
        }
      }

      def encode(iFrame: Array[Byte], pFrames: Seq[Array[Byte]],
          w: Int, h: Int): Array[Byte] = {
        require(w > 0 && h > 0 && w % 8 == 0 && h % 8 == 0,
          "frame dims must be positive multiples of 8")
        require(iFrame.length == w * h && pFrames.forall(_.length == w * h),
          "payload size must be w*h")
        require(pFrames.size + 1 <= 255, "too many frames")
        val jfif = encodeGray(iFrame, w, h)
        val out = new java.io.ByteArrayOutputStream
        def be32w(v: Int): Unit = {
          out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
          out.write((v >>> 8) & 0xff); out.write(v & 0xff)
        }
        out.write('G'); out.write('P'); out.write('V'); out.write('1')
        out.write((w >>> 8) & 0xff); out.write(w & 0xff)
        out.write((h >>> 8) & 0xff); out.write(h & 0xff)
        out.write(pFrames.size + 1)
        be32w(jfif.length); out.write(jfif, 0, jfif.length)
        // the encoder's decode loop: predict from what the DECODER
        // will reconstruct, starting at the intra round-trip
        var ref: Array[Int] = {
          val (dw, dh, nc, px) = decodeFrom(jfif, 0) match {
            case (a, b, c, d, _) => (a, b, c, d)
          }
          require(dw == w && dh == h && nc == 1, "intra round-trip mismatch")
          px.map(_ & 0xff)
        }
        for (f <- pFrames) {
          val cur = f.map(_ & 0xff)
          val recon = new Array[Int](w * h)
          val mvs = new java.io.ByteArrayOutputStream
          val bw = new BitWriter
          var pred = 0
          var by = 0
          while (by < h / 8) {
            var bx = 0
            while (bx < w / 8) {
              val src = planeBlock(cur, w, h, bx * 8, by * 8)
              var bdy = 0; var bdx = 0; var bsad = Long.MaxValue
              var dy = -SearchR
              while (dy <= SearchR) {
                var dx = -SearchR
                while (dx <= SearchR) {
                  val mc = planeBlock(ref, w, h, bx * 8 + dx, by * 8 + dy)
                  var sad = 0L; var i = 0
                  while (i < 64) { sad += math.abs(src(i) - mc(i)); i += 1 }
                  if (sad < bsad) { bsad = sad; bdy = dy; bdx = dx }
                  dx += 1
                }
                dy += 1
              }
              mvs.write(bdy & 0xff); mvs.write(bdx & 0xff)
              val pd = planeBlock(ref, w, h, bx * 8 + bdx, by * 8 + bdy)
              val coef = fdctQuant(Array.tabulate(64)(i => src(i) - pd(i)))
                .map(c => math.max(-1023, math.min(1023, c)))
              pred = writeBlock(bw, coef, pred, DcLumCodes, AcLumCodes)
              reconstruct(recon, w, by, bx, pd,
                idctResidual(Array.tabulate(64)(i => coef(i).toLong * QNat(i))))
              bx += 1
            }
            by += 1
          }
          bw.finish()
          val mvb = mvs.toByteArray
          val ent = bw.out.toByteArray
          be32w(mvb.length + ent.length)
          out.write(mvb, 0, mvb.length); out.write(ent, 0, ent.length)
          ref = recon
        }
        out.toByteArray
      }

      /** Decode the elementary stream. Returns (w, h, frames, Σ|mv|):
        * frames(0) = the decoded intra frame, each P frame
        * reconstructed as clamp(MC prediction + decoded residual);
        * the last element sums |dy|+|dx| over every P-frame block.
        * Rejects loudly: bad magic, non-multiple-of-8 dims, length
        * fields overrunning the stream, motion vectors outside the
        * declared ±[[SearchR]] search range, corrupt size categories,
        * runs past end of block, dequantized coefficients beyond 2¹⁹
        * (the [[readBlock]] bound every JPEG decode enforces),
        * trailing bytes.
        */
      def decode(stream: Array[Byte]): (Int, Int, Vector[Array[Int]], Long) = {
        if (stream.length < 9) fail("Pvid: truncated header")
        if (stream(0) != 'G' || stream(1) != 'P' || stream(2) != 'V' ||
            stream(3) != '1') fail("Pvid: bad magic")
        def u8s(i: Int): Int = stream(i) & 0xff
        val w = (u8s(4) << 8) | u8s(5)
        val h = (u8s(6) << 8) | u8s(7)
        val nf = u8s(8)
        if (w == 0 || h == 0 || w % 8 != 0 || h % 8 != 0)
          fail("Pvid: dims must be positive multiples of 8")
        if (nf == 0) fail("Pvid: zero frames")
        var pos = 9
        def be32r(): Int = {
          if (pos + 4 > stream.length) fail("Pvid: truncated length field")
          val v = (u8s(pos) << 24) | (u8s(pos + 1) << 16) |
            (u8s(pos + 2) << 8) | u8s(pos + 3)
          pos += 4
          // subtract, never add: pos + v overflows Int for a crafted
          // ~2^31 length and would bypass this guard
          if (v < 0 || v > stream.length - pos)
            fail("Pvid: frame length overruns stream")
          v
        }
        val ilen = be32r()
        val (dw, dh, nc, ipx, iend) = decodeFrom(stream, pos)
        if (iend - pos != ilen)
          fail("Pvid: intra frame length field does not match its JFIF extent")
        pos += ilen
        if (dw != w || dh != h || nc != 1)
          fail("Pvid: intra frame does not match declared dims")
        var ref = ipx.map(_ & 0xff)
        val frames = Vector.newBuilder[Array[Int]]
        frames += ref
        var mvAbs = 0L
        val nb = (w / 8) * (h / 8)
        val dcT = buildHuff(DcLumBits, DcLumVals)
        val acT = buildHuff(AcLumBits, AcLumVals)
        for (_ <- 1 until nf) {
          val flen = be32r()
          if (flen < 2 * nb) fail("Pvid: P-frame shorter than its MV table")
          val base = pos
          // bound the entropy decode by THIS frame's declared length —
          // a truncated payload must fail loudly ("truncated entropy
          // stream"), never silently consume the next frame's bytes
          val frame = java.util.Arrays.copyOfRange(stream, base, base + flen)
          val br = new BitReader(frame, 2 * nb)
          val recon = new Array[Int](w * h)
          val pred = Array(0)
          var b = 0
          while (b < nb) {
            val dy = frame(2 * b).toInt
            val dx = frame(2 * b + 1).toInt
            if (math.abs(dy) > SearchR || math.abs(dx) > SearchR)
              fail("Pvid: motion vector outside search range")
            val by = b / (w / 8); val bx = b % (w / 8)
            val resd = idctResidual(readBlock(br, dcT, acT, QNat, pred, 0))
            reconstruct(recon, w, by, bx,
              planeBlock(ref, w, h, bx * 8 + dx, by * 8 + dy), resd)
            mvAbs += math.abs(dy) + math.abs(dx)
            b += 1
          }
          // every payload byte must have been consumed — allow only the
          // final stuffed 0x00 after a trailing 0xff, which the reader
          // touches only when asked for more bits
          if (br.pos < frame.length - 1 ||
              (br.pos == frame.length - 1 && frame(frame.length - 1) != 0))
            fail("Pvid: P-frame payload has trailing bytes")
          pos = base + flen
          ref = recon
          frames += recon
        }
        if (pos != stream.length) fail("Pvid: trailing bytes after last frame")
        (w, h, frames.result(), mvAbs)
      }
    }
  }

  /** The RIFF/WAVE container every audio codec here writes and reads:
    * "RIFF" size "WAVE", one `fmt ` chunk (format tag, mono, rate,
    * byte rate, block align, bits/sample, then any extension bytes)
    * and one `data` chunk. Reading walks the chunks in any order,
    * honors the odd-size pad byte, and skips unknown chunks.
    */
  private object Riff {
    import java.nio.{ByteBuffer, ByteOrder}

    def write(tag: Int, rate: Int, byteRate: Int, blockAlign: Int, bits: Int,
        ext: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val fmtLen = 16 + ext.length
      val bb = ByteBuffer.allocate(28 + fmtLen + data.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(20 + fmtLen + data.length)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen)
        .putShort(tag.toShort).putShort(1) // mono
        .putInt(rate).putInt(byteRate)
        .putShort(blockAlign.toShort).putShort(bits.toShort).put(ext)
      bb.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
      bb.array()
    }

    /** Walk a container of at least `minLen` bytes. Each fmt chunk must
      * be format `tag`, mono, `bits` bits/sample — else "unsupported
      * WAV: … (`only`)" — and `ext` then reads its extension fields
      * (given the chunk length); `data` decodes each data chunk
      * (buffer at its start, given its length). Returns (rate, the last
      * data chunk decoded).
      */
    def read[T](wav: Array[Byte], minLen: Int, tag: Int, bits: Int, only: String,
        ext: (ByteBuffer, Int) => Unit = (_, _) => ())(
        data: (ByteBuffer, Int) => T): (Int, T) = {
      val bb = ByteBuffer.wrap(wav).order(ByteOrder.LITTLE_ENDIAN)
      def id(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(wav.length >= minLen && id() == "RIFF", "not a RIFF container")
      bb.getInt() // declared riff size
      require(id() == "WAVE", "not a WAVE file")
      var rate = -1
      var out: Option[T] = None
      while (bb.remaining() >= 8) {
        val chunk = id(); val len = bb.getInt()
        require(len >= 0 && bb.remaining() >= len, s"truncated '$chunk' chunk")
        val p = bb.position()
        chunk match {
          case "fmt " =>
            require(len >= 16, "truncated 'fmt ' chunk")
            val (fmt, ch, sr) = (bb.getShort(), bb.getShort(), bb.getInt())
            bb.getInt(); bb.getShort() // byte rate, block align
            val b = bb.getShort()
            require(fmt == tag && ch == 1 && b == bits,
              s"unsupported WAV: fmt=$fmt channels=$ch bits=$b ($only)")
            rate = sr
            ext(bb, len)
          case "data" => out = Some(data(bb, len))
          case _ => ()
        }
        // reposition to chunk start + len: an odd-length chunk's last
        // byte is CHUNK content, or the pad-byte read below would eat
        // it instead of the real RIFF pad and misalign every later chunk
        bb.position(p + len)
        if (len % 2 == 1 && bb.remaining() > 0) bb.get() // RIFF pad byte
      }
      require(rate > 0 && out.isDefined, "missing fmt /data chunk")
      (rate, out.get)
    }
  }

  /** Deterministic uncompressed AUDIO fixture + pure-JVM decode + exact
    * integer features (round 12 — the second real media modality,
    * narrowing the stub seam to compressed codecs only): a real
    * RIFF/PCM16 WAV writer/parser (the [[Ppm]] pattern — magic, chunk
    * walk, typed fmt validation, little-endian payload) and
    * all-integer signal features: energy (Σs², exact int64),
    * zero-crossing count, and 8 fixed-point spectral bands computed
    * against the SAME shared integer DCT basis ([[Ppm.DctBasis]]) the
    * image path uses — 1024 samples block-summed to 32 frames, then
    * band(u) = Σₓ B(u,x)·frame(x). Bounds: |frame| ≤ 32·2¹⁵ = 2²⁰,
    * basis ≤ 10⁶ < 2²⁰, 32 terms ⇒ |band| < 2⁴⁵ — overflow-free,
    * bit-exact cross-engine.
    */
  private[graft] object Wav {
    val SampleRate = 8000
    val NSamples = 1024

    /** The audio fixture: document bytes tiled to 2·N bytes, read as
      * N little-endian signed 16-bit samples (empty docs → silence).
      */
    def tileSamples(bytes: Array[Byte]): Array[Short] = {
      val raw = Ppm.tile(bytes, 2 * NSamples)
      Array.tabulate(NSamples) { k =>
        (((raw(2 * k + 1) & 0xff) << 8) | (raw(2 * k) & 0xff)).toShort
      }
    }

    /** A real RIFF/WAVE encoder: PCM (format 1), mono, 16-bit. */
    def encode(samples: Array[Short], rate: Int): Array[Byte] =
      Riff.write(1, rate, rate * 2, 2, 16, Array.emptyByteArray,
        Array.tabulate(2 * samples.length)(i => (samples(i / 2) >> (8 * (i % 2))).toByte))

    /** Parse a RIFF/WAVE container ([[Riff.read]]), require PCM mono
      * 16-bit, and return (sampleRate, samples).
      */
    def decode(wav: Array[Byte]): (Int, Array[Short]) =
      Riff.read(wav, 44, 1, 16, "PCM16 mono only") { (bb, len) =>
        Array.fill(len / 2)(bb.getShort())
      }

    /** All-integer features: (energy, zero crossings, 8 DCT bands). */
    def features(s: Array[Short]): (Long, Int, Array[Long]) = {
      var energy = 0L
      var zcr = 0
      var k = 0
      while (k < s.length) {
        energy += s(k).toLong * s(k)
        if (k > 0 && (s(k - 1) < 0) != (s(k) < 0)) zcr += 1
        k += 1
      }
      val frames = Array.tabulate(32) { x =>
        var acc = 0L; var j = 0
        while (j < 32) { acc += s(32 * x + j); j += 1 }
        acc
      }
      val bands = Array.tabulate(8) { u =>
        var acc = 0L; var x = 0
        while (x < 32) { acc += Ppm.DctBasis(u)(x) * frames(x); x += 1 }
        acc
      }
      (energy, zcr, bands)
    }
  }

  /** G.711 μ-law (round 14) — a REAL lossy audio codec, the telephony
    * standard (ITU-T G.711, public): 8-bit logarithmic companding of
    * 16-bit PCM via the CCITT bias-132 algorithm. Pure per-sample
    * integer arithmetic — exactly replayable in SQL — and the JDK
    * ships an independent implementation (javax.sound.sampled ULAW),
    * so the spec cross-checks a FOREIGN codec in both directions.
    */
  private[graft] object Mulaw {
    private val Bias = 132
    private val Clip = 32635

    def encode(s: Short): Byte = {
      var x = s.toInt
      val sign = if (x < 0) { x = -x; 0x80 } else 0
      if (x > Clip) x = Clip
      x += Bias
      var exp = 7
      var mask = 0x4000
      while (exp > 0 && (x & mask) == 0) { exp -= 1; mask >>= 1 }
      val mant = (x >> (exp + 3)) & 0x0f
      (~(sign | (exp << 4) | mant)).toByte
    }

    def decode(b: Byte): Short = {
      val u = (~b) & 0xff
      val exp = (u >> 4) & 7
      val mant = u & 0x0f
      val x = (((mant << 3) + Bias) << exp) - Bias
      (if ((u & 0x80) != 0) -x else x).toShort
    }

    /** A real RIFF/WAVE μ-law container (format tag 7, 8-bit). */
    def encodeWav(samples: Array[Short], rate: Int): Array[Byte] =
      Riff.write(7, rate, rate, 1, 8, Array.emptyByteArray, samples.map(encode))

    /** Chunk-walk + μ-law expand; rejects non-μ-law formats loudly. */
    def decodeWav(wav: Array[Byte]): (Int, Array[Short]) =
      Riff.read(wav, 44, 7, 8, "mu-law mono only") { (bb, len) =>
        Array.fill(len)(decode(bb.get()))
      }
  }

  /** IMA/DVI ADPCM (round 14) — the second real lossy audio codec:
    * 4:1 compression of 16-bit PCM via the standard 89-entry
    * step-size table and the 4-bit sign+magnitude delta coder (IMA
    * ADPCM reference algorithm; public — the `fmt` tag 0x11 WAV
    * codec). The coder is a per-sample STATE MACHINE (predictor +
    * step index); encode and decode reconstruct the identical
    * predictor chain, so decode(encode(x)) is deterministic integer
    * arithmetic end to end — the DuckDB twin replays the whole fold
    * with a struct accumulator. Container: a real RIFF/WAVE with
    * format tag 0x11 and the standard 4-byte block header; DIALECT:
    * one block per payload with the initial state (pred 0, index 0)
    * in the header and ALL samples nibble-coded (the standard stores
    * sample 1 raw in the header; starting from the zero state keeps
    * the SQL fold uniform — documented, and no foreign IMA decoder
    * exists in this container to disagree with).
    */
  private[graft] object Adpcm {
    val StepTab: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
      34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
      157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
      598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
      1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
      5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
      15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    val IdxTab: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

    /** Reconstruct one sample from a 4-bit code: the shared half of
      * encode and decode (both run it to stay in lockstep).
      */
    def decodeStep(pred: Int, idx: Int, code: Int): (Int, Int) = {
      val step = StepTab(idx)
      var vp = step >> 3
      if ((code & 4) != 0) vp += step
      if ((code & 2) != 0) vp += step >> 1
      if ((code & 1) != 0) vp += step >> 2
      val p = if ((code & 8) != 0) pred - vp else pred + vp
      (math.max(-32768, math.min(32767, p)),
        math.max(0, math.min(88, idx + IdxTab(code & 7))))
    }

    /** Quantize one sample against the current state → (code, state'). */
    def encodeStep(pred: Int, idx: Int, s: Int): (Int, Int, Int) = {
      val step = StepTab(idx)
      var diff = s - pred
      var code = 0
      if (diff < 0) { code = 8; diff = -diff }
      if (diff >= step) { code |= 4; diff -= step }
      if (diff >= (step >> 1)) { code |= 2; diff -= step >> 1 }
      if (diff >= (step >> 2)) code |= 1
      val (p2, i2) = decodeStep(pred, idx, code)
      (code, p2, i2)
    }

    /** Nibble-pack the code stream (low nibble first — the IMA WAV
      * data order) into a real RIFF container, fmt tag 0x11. The
      * samples-per-block field is u16, so a block holds at most 65 534
      * samples (the largest even count).
      */
    def encodeWav(samples: Array[Short], rate: Int): Array[Byte] = {
      require(samples.length % 2 == 0, "IMA ADPCM packs two samples per byte")
      val n = samples.length
      require(n <= 65534, s"IMA ADPCM block holds at most 65534 samples, got $n")
      val data = new Array[Byte](4 + n / 2) // block header (pred 0, idx 0) + nibbles
      var pred = 0; var idx = 0
      var k = 0
      while (k < n) {
        val (c1, p1, i1) = encodeStep(pred, idx, samples(k))
        val (c2, p2, i2) = encodeStep(p1, i1, samples(k + 1))
        data(4 + k / 2) = ((c2 << 4) | c1).toByte
        pred = p2; idx = i2
        k += 2
      }
      Riff.write(0x11, rate, rate * data.length / math.max(1, n), // approx byte rate
        data.length, 4, Array[Byte](2, 0, n.toByte, (n >> 8).toByte), // cbSize, samples/block
        data)
    }

    /** Chunk-walk the container ([[Riff.read]]), validate fmt 0x11 /
      * mono / 4-bit, unpack nibbles, replay the state machine. Returns
      * (rate, decoded samples).
      */
    def decodeWav(wav: Array[Byte]): (Int, Array[Short]) = {
      var nSamples = -1
      Riff.read(wav, 48, 0x11, 4, "IMA ADPCM mono only", (bb, len) => {
        require(len >= 20, "missing IMA extension fields")
        bb.getShort() // cbSize
        nSamples = bb.getShort() & 0xffff
        // two samples per byte: an odd declared count would walk the
        // nibble loop past the output array (crafted-header hazard)
        require(nSamples % 2 == 0,
          "odd sample count unsupported (two samples per byte)")
      }) { (bb, len) =>
        require(nSamples >= 0, "data chunk before fmt")
        require(len >= 4 + nSamples / 2, "truncated ADPCM block")
        var pred: Int = bb.getShort().toInt
        var idx: Int = bb.get() & 0xff
        bb.get() // reserved
        require(idx <= 88, "corrupt step index in block header")
        val out = new Array[Short](nSamples)
        var k = 0
        while (k < nSamples) {
          val byte = bb.get() & 0xff
          val (p1, i1) = decodeStep(pred, idx, byte & 0x0f)
          out(k) = p1.toShort
          val (p2, i2) = decodeStep(p1, i1, byte >> 4)
          out(k + 1) = p2.toShort
          pred = p2; idx = i2
          k += 2
        }
        out
      }
    }
  }

  /** A real MDCT PERCEPTUAL-TRANSFORM audio codec, pure JVM (round 15,
    * VERDICT r14 #2 — the last multimodal tier): the MP2/AAC-LC
    * architecture — 50%-overlap sine-windowed MDCT (Princen-Bradley
    * TDAC), per-band uniform quantization under a FIXED deterministic
    * bit allocation (psychoacoustic-model-free — the model is tuned
    * per corpus in production codecs and would be neither
    * deterministic nor oracle-replayable), bit-packed subband codes in
    * an ADTS-style sync-framed container, and IMDCT + window +
    * overlap-add reconstruction.
    *
    * DETERMINISM (the JPEG staged-integer discipline): window and
    * cosine basis as round(·10⁴) integers, every inter-stage division
    * an explicit round-half-away ([[Jpeg.divHalf]]), quantize = clamp
    * ∘ divHalf against baked per-band steps. Entropy packing is
    * lossless, so encode→decode ≡ mdct→quant→dequant→imdct→OLA — a
    * pipeline the DuckDB twin replays verbatim in BIGINT. Magnitude
    * bounds: |x·W| ≤ 3.3·10⁸, MDCT acc ≤ 128·3.3·10¹² ≈ 4.2·10¹⁴,
    * IMDCT acc ≤ 32·2.1·10¹⁰ — all far inside int64.
    *
    * No JDK/public MDCT decoder exists in this container (javax.sound
    * ships G.711/ADPCM only), so the cross-checks are the codec's own
    * mathematical contracts, spec-pinned: near-perfect reconstruction
    * with quantization bypassed (TDAC survives the integer rounding
    * within ±5 of 16-bit full scale) and tonal energy compaction (a
    * pure bin-k cosine concentrates into coefficient k).
    */
  private[graft] object Mdct {
    /** Coefficients per frame (the hop); window = 2N = 64 samples. */
    val N = 32

    /** Sine window at scale 10⁴ (Princen-Bradley: w²(n)+w²(n+N)=1). */
    val W4: Array[Long] = Array.tabulate(2 * N)(n =>
      Math.round(math.sin(math.Pi * (n + 0.5) / (2 * N)) * 1e4))

    /** MDCT basis at scale 10⁴:
      * C4(n,k) = round(cos(π/N·(n+0.5+N/2)·(k+0.5))·10⁴).
      */
    val C4: Array[Array[Long]] = Array.tabulate(2 * N, N)((n, k) =>
      Math.round(math.cos(math.Pi / N * (n + 0.5 + N / 2.0) * (k + 0.5)) * 1e4))

    /** Fixed bit allocation: low bands fine, high bands coarse — the
      * MP2 Table-B shape without the psychoacoustic modulation. 232
      * bits = 29 bytes per frame (raw hop = 64 bytes: 2.2×).
      */
    val Bits: Array[Int] =
      Array.fill(4)(12) ++ Array.fill(4)(10) ++ Array.fill(8)(8) ++
        Array.fill(8)(6) ++ Array.fill(8)(4)

    /** Per-band uniform quantizer steps (powers of two, sized so the
      * band's worst-case MDCT magnitude clamps only at extremes).
      */
    val Step: Array[Long] =
      Array.fill(4)(256L) ++ Array.fill(4)(1024L) ++ Array.fill(8)(4096L) ++
        Array.fill(8)(16384L) ++ Array.fill(8)(65536L)

    val FrameBytes: Int = Bits.sum / 8 // 29 — the fixed allocation is byte-exact

    import Jpeg.divHalf

    /** Windowed forward MDCT of one 2N-sample frame → N coefficients
      * at sample scale.
      */
    def mdctFrame(x: Array[Int]): Array[Long] = {
      require(x.length == 2 * N, s"frame must be ${2 * N} samples")
      val xw = Array.tabulate(2 * N)(n => x(n) * W4(n))
      Array.tabulate(N) { k =>
        var acc = 0L; var n = 0
        while (n < 2 * N) { acc += xw(n) * C4(n)(k); n += 1 }
        divHalf(acc, 100000000L)
      }
    }

    /** IMDCT + synthesis window of N dequantized coefficients → 2N
      * windowed output samples (caller overlap-adds).
      */
    def imdctFrame(xd: Array[Long]): Array[Long] =
      Array.tabulate(2 * N) { n =>
        var acc = 0L; var k = 0
        while (k < N) { acc += xd(k) * C4(n)(k); k += 1 }
        divHalf(divHalf(2L * acc, N * 10000L) * W4(n), 10000L)
      }

    /** Quantize: divHalf against the band step, clamp to the band's
      * bit budget (two's-complement range).
      */
    def quantize(xk: Array[Long]): Array[Int] =
      Array.tabulate(N) { k =>
        val v = divHalf(xk(k), Step(k))
        val lo = -(1 << (Bits(k) - 1)); val hi = (1 << (Bits(k) - 1)) - 1
        math.max(lo, math.min(hi, v)).toInt
      }

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"MDCT: $msg")

    /** Encode PCM16 (length a positive multiple of N) as the
      * sync-framed MDCT stream: len/N + 1 frames, frame f windowing
      * samples [N(f−1), N(f+1)) zero-padded outside the signal; each
      * frame = 0xFF 0xF1 sync + 2-byte payload length + the bit-packed
      * band codes (MSB-first, two's complement at each band's width).
      */
    def encode(samples: Array[Short]): Array[Byte] = {
      require(samples.length > 0 && samples.length % N == 0,
        s"sample count must be a positive multiple of $N")
      val nFrames = samples.length / N + 1
      val out = new java.io.ByteArrayOutputStream
      var f = 0
      while (f < nFrames) {
        val x = Array.tabulate(2 * N) { n =>
          val g = N * (f - 1) + n
          if (g >= 0 && g < samples.length) samples(g).toInt else 0
        }
        val q = quantize(mdctFrame(x))
        out.write(0xff); out.write(0xf1)
        out.write((FrameBytes >> 8) & 0xff); out.write(FrameBytes & 0xff)
        var buf = 0L; var cnt = 0
        var k = 0
        while (k < N) {
          buf = (buf << Bits(k)) | (q(k).toLong & ((1L << Bits(k)) - 1))
          cnt += Bits(k)
          while (cnt >= 8) {
            out.write(((buf >> (cnt - 8)) & 0xff).toInt)
            cnt -= 8; buf &= (1L << cnt) - 1
          }
          k += 1
        }
        // 232 bits = 29 bytes exactly — nothing left to pad
        f += 1
      }
      out.toByteArray
    }

    /** Walk the sync-framed stream, unpack and dequantize every
      * frame, IMDCT + overlap-add, clamp to PCM16. Returns (nFrames,
      * N·(nFrames−1) samples). Loud rejections: bad sync, truncated
      * frames, wrong payload length for the fixed allocation, streams
      * too short to overlap-add a single hop.
      */
    def decode(bytes: Array[Byte]): (Int, Array[Short]) = {
      var pos = 0
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
      while (pos < bytes.length) {
        if (pos + 4 > bytes.length) fail("truncated frame header")
        if ((bytes(pos) & 0xff) != 0xff || (bytes(pos + 1) & 0xff) != 0xf1)
          fail(f"bad sync word 0x${bytes(pos) & 0xff}%02x${bytes(pos + 1) & 0xff}%02x")
        val len = ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
        if (len != FrameBytes)
          fail(s"frame payload $len != $FrameBytes (fixed allocation)")
        if (pos + 4 + len > bytes.length) fail("truncated frame payload")
        var buf = 0L; var cnt = 0
        var bp = pos + 4
        val xd = new Array[Long](N)
        var k = 0
        while (k < N) {
          while (cnt < Bits(k)) {
            buf = (buf << 8) | (bytes(bp) & 0xff); bp += 1; cnt += 8
          }
          val raw = ((buf >> (cnt - Bits(k))) & ((1L << Bits(k)) - 1)).toInt
          cnt -= Bits(k); buf &= (1L << cnt) - 1
          val q =
            if (raw >= (1 << (Bits(k) - 1))) raw - (1 << Bits(k)) else raw
          xd(k) = q.toLong * Step(k)
          k += 1
        }
        frames += imdctFrame(xd)
        pos += 4 + len
      }
      if (frames.length < 2) fail("stream too short (need at least 2 frames)")
      val nOut = N * (frames.length - 1)
      val out = new Array[Short](nOut)
      var g = 0
      while (g < nOut) {
        val f = g / N
        val v = frames(f)(g - N * (f - 1)) + frames(f + 1)(g - N * f)
        out(g) = math.max(-32768L, math.min(32767L, v)).toShort
        g += 1
      }
      (frames.length, out)
    }
  }

  case class AudioFeatures(doc_id: Long, n_samples: Int, energy: Long,
      zcr: Int, bands: Array[Long])
  case class MediaLossyWav(doc_id: Long, n_samples: Int, ok: Boolean,
    size_ok: Boolean, energy_dec: Long, max_err: Int, abs_err: Long)
  case class MediaMdct(doc_id: Long, n_samples: Int, n_frames: Int,
    ok: Boolean, size_ok: Boolean, energy_dec: Long, max_err: Int,
    abs_err: Long)

  /** The one fidelity fold of the lossy media rows over n decoded /
    * source sample pairs: (Σ weight(decoded), max |decoded − source|,
    * Σ |decoded − source|) — energy with weight d², pixel sum with d.
    */
  private def fidelity(n: Int, dec: Int => Int, src: Int => Int,
      weight: Int => Long): (Long, Int, Long) = {
    var acc = 0L; var maxe = 0; var abse = 0L
    var k = 0
    while (k < n) {
      val d = dec(k)
      acc += weight(d)
      val e = math.abs(d - src(k))
      if (e > maxe) maxe = e
      abse += e
      k += 1
    }
    (acc, maxe, abse)
  }

  private val squared: Int => Long = d => d.toLong * d

  /** The image-codec row frame: each document's bytes tiled to `len`
    * bytes ([[Ppm.tile]]) through `row` partition-wise, united with ONE
    * planted closed-form gradient (doc_id −1: byte i = (7i+13) mod
    * 256) whose values the oracle derives independently of the
    * corpus, sorted by doc_id. Per-partition batched codec work (the
    * mapInPandas contract), zero shuffles before the final sort.
    */
  private def withPlanted[T <: Product : scala.reflect.runtime.universe.TypeTag](
      s: SparkSession, dir: String, len: Int)(row: (Long, Array[Byte]) => T): DataFrame = {
    import s.implicits._
    val docRows = mediaRows(s, dir).mapPartitions { it =>
      it.map(r => row(r.doc_id, Ppm.tile(r.media, len)))
    }
    val planted = Seq(0).toDS().map { _ =>
      row(-1L, Array.tabulate(len)(i => ((i * 7 + 13) % 256).toByte))
    }
    docRows.union(planted).toDF().orderBy("doc_id")
  }

  /** Audio feature extraction over the media column (q_media_audio):
    * each document's bytes become a deterministic PCM16 mono WAV
    * ([[Wav.tileSamples]] + [[Wav.encode]]), the op DECODES the
    * container ([[Wav.decode]] — a real chunk walk, spec-pinned to
    * round-trip and to reject non-RIFF payloads), and extracts exact
    * integer features from the SAMPLES: energy, zero-crossing count,
    * 8 spectral bands via the shared integer DCT basis; rms is the one
    * IEEE op (sqrt of an exact ≤2⁴⁰ integer ratio — correctly rounded
    * in both engines). Pure per-row bounded work in the batched
    * partition-wise decoder shape — no shuffle, scales linearly.
    * Fully oracled: DuckDB rebuilds the samples from the document
    * bytes and replays every integer fold (the encode/decode
    * round-trip itself is spec territory, as with [[Ppm]]).
    */
  private def mediaAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = mediaRows(s, dir).mapPartitions { it =>
      // per-partition init would amortize a real codec handle here
      it.map { r =>
        val wav = Wav.encode(Wav.tileSamples(r.media), Wav.SampleRate)
        val (rate, samples) = Wav.decode(wav)
        require(rate == Wav.SampleRate && samples.length == Wav.NSamples)
        val (energy, zcr, bands) = Wav.features(samples)
        AudioFeatures(r.doc_id, samples.length, energy, zcr, bands)
      }
    }.toDF()
    val bandCols = (0 until 8).map(u =>
      element_at(col("bands"), u + 1).as(s"b$u"))
    feats.select(Seq(col("doc_id"), col("n_samples"), col("energy"),
      sqrt(col("energy").cast("double") / col("n_samples")).as("rms"),
      col("zcr")) ++ bandCols: _*)
      .orderBy("doc_id")
  }

  /** Perceptual-hash near-dup over the media column — the image dedup
    * stage of a multimodal pipeline, now over a REAL image path
    * (round 11): each document's bytes become a deterministic 64×64 P5
    * PGM ([[Ppm.tile]] + [[Ppm.encode]]), the op DECODES the image
    * ([[Ppm.decode]] — a real header parse, spec-pinned to round-trip
    * and to reject non-P5 payloads), and hashes the PIXELS with the
    * standard pHash transform: 32×32 block downsample → integer 2-D
    * DCT against the shared fixed-point basis → 64 low-frequency
    * coefficients thresholded at their exact median ([[Ppm.phash]]).
    * Candidate pairs come from 4×16-bit band buckets over the 64-bit
    * code (the minhash banding shape), then exact `bit_count(xor)`
    * verification keeps pairs at distance ≤ 8. The fixture has no
    * image near-dups, so each image also ships a re-encode variant
    * (doc_id + 10⁹) with ONE corrupted pixel (last pixel's low bit) —
    * the DCT's whole point is that such a pair hashes within a few
    * bits while different documents' images sit near 32. Scale shape
    * unchanged: banding bounds the candidate join exactly like text
    * minhash; the verify is register arithmetic on 16 bytes/pair.
    * Fully oracled — DuckDB rebuilds the pixel grid from the document
    * bytes, replays the block sums, the SAME integer DCT basis
    * constants, the median threshold, the band join, and the xor
    * popcount (the encode/decode round-trip itself is spec territory:
    * SQL has no byte-array PGM parser, and the oracle grades the
    * pixel→code→pair pipeline end to end).
    */
  private def mediaPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codes = mediaRows(s, dir).mapPartitions { it =>
      it.flatMap { r =>
        val gray = Ppm.tile(r.media, Ppm.W * Ppm.H)
        val corrupt = gray.clone()
        corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 1).toByte
        Seq((r.doc_id, gray), (r.doc_id + 1000000000L, corrupt)).map {
          case (id, payload) =>
            val ppm = Ppm.encode(payload, Ppm.W, Ppm.H)
            val (w, h, px) = Ppm.decode(ppm)
            require(w == Ppm.W && h == Ppm.H)
            val (w1, w2) = Ppm.phash(px)
            MediaPhash(id, w1, w2)
        }
      }
    }.toDF()
    val bandRows = codes.select(col("doc_id"), col("w1"), col("w2"),
      posexplode(array(
        shiftright(col("w1"), 16).bitwiseAND(65535L),
        col("w1").bitwiseAND(65535L),
        shiftright(col("w2"), 16).bitwiseAND(65535L),
        col("w2").bitwiseAND(65535L))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "v")
    val cands = bandRows.as("a").join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"),
        col("a.w1").as("aw1"), col("a.w2").as("aw2"),
        col("b.w1").as("bw1"), col("b.w2").as("bw2"))
      .distinct()
    cands
      .withColumn("ham",
        (expr("bit_count(aw1 ^ bw1)") + expr("bit_count(aw2 ^ bw2)")).cast("int"))
      .filter(col("ham") <= 8)
      .select("ai", "bi", "ham")
      .orderBy("ai", "bi")
  }

  /** Color-image features over a REAL P6 PPM round-trip (round 12 —
    * the third real modality next to the P5 graymap and RIFF/PCM WAV):
    * each document's bytes tile a 64×64 interleaved-RGB pixmap, a real
    * P6 writer/parser round-trips it (the parser rejects a P5 graymap
    * loudly — wrong channel count is the classic silent corruption),
    * and the features are EXACT INTEGERS so the DuckDB twin replays
    * them from the same bytes: per-channel sums, the opponent-axis
    * accumulators Σ|r−g| and Σ|r+g−2b| (the Hasler–Süsstrunk
    * colorfulness components kept in integer form — ×2 on the
    * yellow-blue axis avoids the /2), and the dominant channel
    * (deterministic r≥g≥b tiebreak). Scale: one mapPartitions decode
    * pass, 12 KiB and O(w·h) work per row, no shuffle before the
    * final sort — the same batched-decoder contract as the other
    * media ops.
    */
  private def mediaColor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaRows(s, dir).mapPartitions { it =>
      it.map { r =>
        val rgb = Ppm.tile(r.media, 3 * Ppm.W * Ppm.H)
        val ppm = Ppm.encodeP6(rgb, Ppm.W, Ppm.H)
        val (w, h, px) = Ppm.decodeP6(ppm)
        require(w == Ppm.W && h == Ppm.H)
        var rs = 0L; var gs = 0L; var bs = 0L; var rg = 0L; var yb = 0L
        var p = 0
        while (p < w * h) {
          val r0 = px(3 * p) & 0xff
          val g0 = px(3 * p + 1) & 0xff
          val b0 = px(3 * p + 2) & 0xff
          rs += r0; gs += g0; bs += b0
          rg += math.abs(r0 - g0)
          yb += math.abs(r0 + g0 - 2 * b0)
          p += 1
        }
        val dom = if (rs >= gs && rs >= bs) "r" else if (gs >= bs) "g" else "b"
        MediaColor(r.doc_id, rs, gs, bs, rg, yb, dom)
      }
    }.toDF().orderBy("doc_id")
  }

  /** q_media_mulaw (round 14): real G.711 μ-law compress → container →
    * decode → exact integer fidelity stats, the telephony lossy-audio
    * path. The companding math is stateless per-sample integer
    * arithmetic, so the DuckDB twin replays decode(encode(s)) from the
    * raw document bytes — full value parity. Spec cross-checks BOTH
    * directions against the JDK's independent ULAW codec
    * (javax.sound.sampled — a true foreign implementation).
    */
  private def mediaMulaw(s: SparkSession, dir: String): DataFrame =
    lossyWav(s, dir, Mulaw.encodeWav, Mulaw.decodeWav, 44 + Wav.NSamples) // 2:1, fixed rate

  /** q_media_adpcm (round 14): real IMA ADPCM compress → fmt-0x11 RIFF
    * container → decode → exact integer fidelity stats, the 4:1
    * lossy-audio workhorse. The coder is a per-sample state machine;
    * the DuckDB twin replays the ENTIRE fold (predictor, step index,
    * quantize, reconstruct, clamp) with a struct accumulator — full
    * value parity on a genuinely stateful lossy codec.
    */
  private def mediaAdpcm(s: SparkSession, dir: String): DataFrame =
    lossyWav(s, dir, Adpcm.encodeWav, Adpcm.decodeWav, 48 + 4 + Wav.NSamples / 2) // 4:1 + headers

  /** One lossy WAV row per document: tile the samples, encode the
    * container, decode it, and check the rate, the sample count and
    * the exact container size `wavBytes`.
    */
  private def lossyWav(s: SparkSession, dir: String,
      encode: (Array[Short], Int) => Array[Byte],
      decode: Array[Byte] => (Int, Array[Short]), wavBytes: Int): DataFrame = {
    import s.implicits._
    mediaRows(s, dir).mapPartitions { it =>
      it.map { r =>
        val samples = Wav.tileSamples(r.media)
        val wav = encode(samples, Wav.SampleRate)
        val (rate, dec) = decode(wav)
        val ok = rate == Wav.SampleRate && dec.length == Wav.NSamples
        val (en, maxe, abse) = fidelity(dec.length, dec(_), samples(_), squared)
        MediaLossyWav(r.doc_id, dec.length, ok, wav.length == wavBytes, en, maxe, abse)
      }
    }.toDF().orderBy("doc_id")
  }

  /** q_media_mdct (round 15, VERDICT r14 #2): the perceptual-transform
    * audio tier goes real — each document's bytes tile into 256 PCM16
    * samples, encode through the MDCT codec ([[Mdct]]: 9 sine-windowed
    * 50%-overlap frames, fixed-allocation subband quantization,
    * ADTS-style sync framing), decode back (unpack, dequantize, IMDCT,
    * overlap-add), and emit the exact integer fidelity stats the
    * DuckDB twin replays from the raw bytes — the q_media_adpcm value
    * contract on a transform codec. Scale: per-partition batched codec
    * work, zero shuffles before the final sort.
    */
  private def mediaMdct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nS = 256
    mediaRows(s, dir).mapPartitions { it =>
      it.map { r =>
        val samples = Wav.tileSamples(r.media).take(nS)
        val stream = Mdct.encode(samples)
        val (nf, dec) = Mdct.decode(stream)
        val ok = nf == nS / Mdct.N + 1 && dec.length == nS
        // 9 frames × (4-byte header + 29-byte payload) = 297 B for
        // 512 raw bytes — the fixed allocation is size-exact
        val sizeOk = stream.length == (nS / Mdct.N + 1) * (4 + Mdct.FrameBytes)
        val (en, maxe, abse) = fidelity(dec.length, dec(_), samples(_), squared)
        MediaMdct(r.doc_id, dec.length, nf, ok, sizeOk, en, maxe, abse)
      }
    }.toDF().orderBy("doc_id")
  }

  /** One compress→decode→featurize row: the lossless round-trip
    * contract plus exact integer channel sums over the DECODED pixels
    * — because the round-trip is lossless, the sums are replayable by
    * the oracle from the raw source bytes, upgrading what would be an
    * invariant-only row into full value parity. `size_ok` pins the
    * container bound (deflate can never exceed the stored-block bound:
    * 12 352 raw bytes + ~11 zlib + ~57 container < 13 000).
    */
  private def pngRow(id: Long, rgb: Array[Byte]): MediaPng = {
    val png = Png.encode(rgb, Ppm.W, Ppm.H)
    val (w, h, px) = Png.decode(png)
    val roundtrip = w == Ppm.W && h == Ppm.H &&
      java.util.Arrays.equals(px, rgb)
    val sizeOk = png.length <= 13000
    var rs = 0L; var gs = 0L; var bs = 0L
    var p = 0
    while (p < w * h) {
      rs += px(3 * p) & 0xff
      gs += px(3 * p + 1) & 0xff
      bs += px(3 * p + 2) & 0xff
      p += 1
    }
    MediaPng(id, w, h, roundtrip, sizeOk, rs, gs, bs)
  }

  /** q_media_png (round 13, VERDICT r12 #4): real PNG compress →
    * decode → featurize over the tiled RGB fixture, PLUS one planted
    * closed-form gradient image (doc_id −1: byte i = (7i+13) mod 256)
    * whose channel sums the oracle derives in closed form — decoder
    * correctness evidence independent of the document corpus. Scale:
    * per-partition batched codec work (the mapInPandas contract), zero
    * shuffles before the final sort.
    */
  private def mediaPng(s: SparkSession, dir: String): DataFrame =
    withPlanted(s, dir, 3 * Ppm.W * Ppm.H)(pngRow)

  /** One lossy compress→decode→featurize row: the decode contract
    * (dims + component count), the container-size bound, and EXACT
    * INTEGER fidelity stats against the source — pixel sum, max
    * absolute error, total absolute error. Because every DCT stage is
    * staged integer arithmetic and entropy coding is lossless, the
    * DuckDB twin replays the decoded pixels bit-for-bit from the raw
    * source bytes (full value parity, not invariant-only).
    */
  private def jpegRow(id: Long, gray: Array[Byte], w: Int, h: Int): MediaJpeg = {
    val jpg = Jpeg.encodeGray(gray, w, h)
    val (dw, dh, nc, px) = Jpeg.decode(jpg)
    val ok = dw == w && dh == h && nc == 1
    // header ≈ 330 B fixed; 16×16 entropy data worst-case ≪ 1.5 KiB
    val sizeOk = jpg.length <= 2000
    val (sum, maxe, abse) = fidelity(px.length, px(_) & 0xff, gray(_) & 0xff, _.toLong)
    MediaJpeg(id, dw, dh, ok, sizeOk, sum, maxe, abse)
  }

  /** q_media_jpeg (round 14, VERDICT r13 #1): real baseline JPEG
    * compress → decode → featurize over a 16×16 grayscale tile of each
    * document's bytes, PLUS one planted closed-form gradient image
    * (doc_id −1: pixel i = (7i+13) mod 256). The oracle replays the
    * ENTIRE lossy pipeline — level shift, staged-integer FDCT,
    * quantization against the Annex K table, dequantization, staged-
    * integer IDCT, clamp — in BIGINT SQL from the same bytes, so the
    * fidelity stats are hash-matched values, not just invariants.
    * Scale: per-partition batched codec work (the mapInPandas
    * contract), zero shuffles before the final sort.
    */
  private def mediaJpeg(s: SparkSession, dir: String): DataFrame =
    withPlanted(s, dir, 16 * 16)(jpegRow(_, _, 16, 16))

  /** q_media_jpeg_color (round 15, VERDICT r14 #3): the color
    * direction of the image codec — encode a 16×16 interleaved-RGB
    * tile of each document's bytes as baseline 4:2:0 JFIF
    * ([[Jpeg.encodeColor]]: JFIF forward YCbCr, 2×2-mean subsampling,
    * Annex K K.1/K.2 quantization, K.3-K.6 Huffman, one interleaved
    * MCU), decode it through the SAME 3-component path that handles
    * foreign ImageIO streams, and emit exact integer fidelity stats
    * over all 768 channel values. Every stage (color transform,
    * subsample, staged-integer DCT both ways, replicated upsampling,
    * fixed-point YCbCr→RGB) is exact integer arithmetic, so the
    * DuckDB twin replays the ENTIRE lossy color pipeline in BIGINT —
    * full value parity, the q_media_jpeg discipline extended to 3
    * channels and 6 blocks per tile.
    */
  private def jpegColorRow(id: Long, rgb: Array[Byte], w: Int, h: Int): MediaJpeg = {
    val jpg = Jpeg.encodeColor(rgb, w, h)
    val (dw, dh, nc, px) = Jpeg.decode(jpg)
    val ok = dw == w && dh == h && nc == 3
    // header ≈ 600 B fixed (two DQTs, four DHTs); 6-block 16×16
    // entropy data stays far under the bound
    val sizeOk = jpg.length <= 4000
    val (sum, maxe, abse) = fidelity(px.length, px(_) & 0xff, rgb(_) & 0xff, _.toLong)
    MediaJpeg(id, dw, dh, ok, sizeOk, sum, maxe, abse)
  }

  private def mediaJpegColor(s: SparkSession, dir: String): DataFrame =
    withPlanted(s, dir, 3 * 16 * 16)(jpegColorRow(_, _, 16, 16))

  /** q_media_mjpeg (round 14): the VIDEO modality's codec goes real —
    * Motion JPEG as the standard concatenated-JFIF stream (what
    * MJPEG-over-HTTP and AVI payloads carry), two 16×16 frames per
    * document: frame 2 is frame 1 cyclically shifted one pixel (the
    * planted "motion"). The op encodes the stream, WALKS the SOI→EOI
    * frame boundaries, decodes each frame through the real baseline
    * JPEG path, and emits temporal features: total decoded pixel sum,
    * motion energy Σ|f₂−f₁| and the max per-pixel motion — all exact
    * integers the DuckDB twin replays (the q_media_jpeg staged-integer
    * pipeline, keyed by frame, joined across frames). The container
    * walk (a real multi-frame stream, not one image) is the point;
    * every frame here is intra — inter-frame prediction is
    * q_media_pframe ([[Jpeg.Pvid]]).
    */
  private def mjpegRow(id: Long, f1: Array[Byte], jw: Int, jh: Int): MediaMjpeg = {
    val n = jw * jh
    val f2 = Array.tabulate(n)(i => f1((i + 1) % n))
    val stream = Jpeg.Mjpeg.encode(Seq((f1, jw, jh), (f2, jw, jh)))
    val frames = Jpeg.Mjpeg.decode(stream)
    val ok = frames.length == 2 &&
      frames.forall(f => f._1 == jw && f._2 == jh && f._3 == 1)
    val sizeOk = stream.length <= 4000
    val d1 = frames(0)._4; val d2 = frames(1)._4
    var sum = 0L; var mabs = 0L; var mmax = 0
    var p = 0
    while (p < d1.length) {
      sum += (d1(p) & 0xff) + (d2(p) & 0xff)
      val m = math.abs((d2(p) & 0xff) - (d1(p) & 0xff))
      mabs += m
      if (m > mmax) mmax = m
      p += 1
    }
    MediaMjpeg(id, frames.length, ok, sizeOk, sum, mabs, mmax)
  }

  private def mediaMjpeg(s: SparkSession, dir: String): DataFrame =
    withPlanted(s, dir, 16 * 16)(mjpegRow(_, _, 16, 16))

  /** q_media_pframe (round 15): INTER-FRAME video — the seam MJPEG
    * left open (every frame intra). Two 16×16 frames per document:
    * frame 2 is frame 1 cyclically shifted 17 raster positions
    * (≈ one row + one column of planted motion) plus a +5 saturating
    * brightness step, so the residual is nonzero even where the
    * motion model is perfect. The op encodes a real P-frame stream
    * (JFIF intra + full-search MC + Annex-K-quantized residual DCT +
    * Huffman entropy — [[Jpeg.Pvid]]), decodes it back, and emits
    * exact integer features: Σ|mv| over the blocks, reconstruction
    * pixel sum, and the max/total reconstruction error vs the source
    * frame. The DuckDB twin replays the motion search (25-offset SAD
    * argmin over the staged-integer-decoded reference), the residual
    * transform, and the clamp — full value parity.
    */
  private def pvidRow(id: Long, f1: Array[Byte]): MediaPvid = {
    val w = 16; val h = 16; val n = w * h
    val f2 = Array.tabulate(n)(i =>
      math.min(255, (f1((i + 17) % n) & 0xff) + 5).toByte)
    val stream = Jpeg.Pvid.encode(f1, Seq(f2), w, h)
    val (dw, dh, frames, mvAbs) = Jpeg.Pvid.decode(stream)
    val ok = dw == w && dh == h && frames.length == 2
    val sizeOk = stream.length <= 4000
    val (psum, maxe, abse) = fidelity(n, frames(1)(_), f2(_) & 0xff, _.toLong)
    MediaPvid(id, frames.length, ok, sizeOk, mvAbs, psum, maxe, abse)
  }

  private def mediaPframe(s: SparkSession, dir: String): DataFrame =
    withPlanted(s, dir, 16 * 16)(pvidRow)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_meta" -> (multimodalMeta _),
    "q_media_png" -> (mediaPng _),
    "q_media_jpeg" -> (mediaJpeg _),
    "q_media_jpeg_color" -> (mediaJpegColor _),
    "q_media_mjpeg" -> (mediaMjpeg _),
    "q_media_pframe" -> (mediaPframe _),
    "q_media_features" -> (mediaFeatures _),
    "q_media_resize" -> (mediaResize _),
    "q_frame_sample" -> (frameSample _),
    "q_media_phash" -> (mediaPhash _),
    "q_media_audio" -> (mediaAudio _),
    "q_media_mulaw" -> (mediaMulaw _),
    "q_media_adpcm" -> (mediaAdpcm _),
    "q_media_mdct" -> (mediaMdct _),
    "q_media_color" -> (mediaColor _)
  )

  /** The fixed-point DCT basis as a DuckDB VALUES list — the SAME baked
    * integer constants [[Ppm.DctBasis]] both the image and audio twins
    * join against.
    */
  private def dctBasisValues: String =
    (for (u <- 0 until 8; x <- 0 until 32)
      yield s"($u, $x, ${Ppm.DctBasis(u)(x)})").mkString(", ")

  /** The 8×8 fixed-point JPEG DCT basis and the Annex K quantization
    * table as DuckDB VALUES lists — the SAME baked integers the codec
    * uses, so the staged arithmetic is engine-identical by construction.
    */
  private def jpegBasisValues: String =
    (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u, $x, ${Jpeg.B4(u)(x)})").mkString(", ")

  private def jpegQtValues: String =
    (for (u <- 0 until 8; v <- 0 until 8)
      yield s"($u, $v, ${Jpeg.QNat(v * 8 + u)})").mkString(", ")

  /** Both Annex K quantization tables keyed by selector (0 = K.1
    * luma, 1 = K.2 chroma) — the color twin joins on (tq, u, v).
    */
  private def jpegQt2Values: String =
    (for (tq <- 0 to 1; u <- 0 until 8; v <- 0 until 8) yield {
      val t = if (tq == 0) Jpeg.QNat else Jpeg.QChromaNat
      s"($tq, $u, $v, ${t(v * 8 + u)})"
    }).mkString(", ")

  /** The PCM16 sample CTEs shared by the audio-codec twins: document
    * bytes → tiled little-endian signed 16-bit samples (the
    * q_media_audio fixture rule).
    */
  private def pcmSmpCtes: String =
    "m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, " +
      "CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
      "bylist AS MATERIALIZED (SELECT doc_id, list_transform(range(CAST(0 AS BIGINT), CAST(2048 AS BIGINT)), " +
      "j -> CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE " +
      "CAST((strpos('0123456789ABCDEF', substr(mhex, CAST((j % n)*2+1 AS BIGINT), 1))-1)*16 " +
      "+ strpos('0123456789ABCDEF', substr(mhex, CAST((j % n)*2+2 AS BIGINT), 1))-1 AS BIGINT) END) AS bs FROM m), " +
      "smp AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 1024), " +
      "k -> bs[CAST(2*k AS BIGINT)+1] + 256*bs[CAST(2*k AS BIGINT)+2] " +
      "- CASE WHEN bs[CAST(2*k AS BIGINT)+2] >= 128 THEN 65536 ELSE 0 END) AS sm FROM bylist)"

  /** The IMA ADPCM per-sample state transition as one DuckDB fold
    * lambda — quantize (sign + three threshold bits against the
    * current step), reconstruct, clamp, step-index update: the exact
    * twin of Adpcm.encodeStep∘decodeStep. The accumulator is a LIST of
    * (pred+32768)·89+idx PACKED states (one appended per sample), NOT
    * a multi-field struct: DuckDB 1.0's list_reduce mis-evaluates a
    * struct field that reuses a subtree an earlier field already
    * computed (the later copy sees a rebound accumulator — found by
    * the round-14 differential test), while a single-expression
    * accumulator is immune. The decoded samples unpack from the state
    * list, so the fidelity stats aggregate over plain rows.
    */
  private def adpcmFoldLambda: String = {
    val pr = "(acc[len(acc)] // 89 - 32768)" // previous predictor
    val ix = "(acc[len(acc)] % 89)" // previous step index
    val st = s"stp[CAST($ix AS INT) + 1]"
    val es = "el[1]"
    val d0 = s"abs($es - $pr)"
    val b4 = s"($d0 >= $st)"
    val d1 = s"($d0 - CASE WHEN $b4 THEN $st ELSE 0 END)"
    val b2 = s"($d1 >= $st // 2)"
    val d2 = s"($d1 - CASE WHEN $b2 THEN $st // 2 ELSE 0 END)"
    val b1 = s"($d2 >= $st // 4)"
    val vp = s"($st // 8 + CASE WHEN $b4 THEN $st ELSE 0 END + " +
      s"CASE WHEN $b2 THEN $st // 2 ELSE 0 END + CASE WHEN $b1 THEN $st // 4 ELSE 0 END)"
    val predn = s"greatest(-32768, least(32767, " +
      s"CASE WHEN $es < $pr THEN $pr - $vp ELSE $pr + $vp END))"
    val idxn = s"greatest(0, least(88, $ix + itb[CAST(" +
      s"CASE WHEN $b4 THEN 4 ELSE 0 END + CASE WHEN $b2 THEN 2 ELSE 0 END + " +
      s"CASE WHEN $b1 THEN 1 ELSE 0 END AS INT) + 1]))"
    s"(acc, el) -> list_append(acc, (($predn) + 32768) * 89 + ($idxn))"
  }

  private def adpcmOracleSql: String =
    s"WITH $pcmSmpCtes, " +
      s"tabs AS (SELECT [${Adpcm.StepTab.mkString(", ")}] AS stp, " +
      s"[${Adpcm.IdxTab.mkString(", ")}] AS itb), " +
      // init = [pack(pred 0, idx 0)] = [32768·89]
      "fold AS MATERIALIZED (SELECT doc_id, sm, " +
      "list_reduce(list_prepend([CAST(2916352 AS BIGINT)], " +
      s"list_transform(sm, x -> [x])), $adpcmFoldLambda) AS states " +
      "FROM smp CROSS JOIN tabs), " +
      "dec AS (SELECT doc_id, sm, list_transform(states[2:], v -> v // 89 - 32768) AS dv FROM fold), " +
      "er AS (SELECT doc_id, dv[CAST(t.k AS BIGINT) + 1] AS d, sm[CAST(t.k AS BIGINT) + 1] AS s " +
      "FROM dec CROSS JOIN range(0, 1024) t(k)) " +
      "SELECT doc_id, CAST(1024 AS INT) AS n_samples, TRUE AS ok, TRUE AS size_ok, " +
      "CAST(sum(d * d) AS BIGINT) AS energy_dec, CAST(max(abs(d - s)) AS INT) AS max_err, " +
      "CAST(sum(abs(d - s)) AS BIGINT) AS abs_err " +
      "FROM er GROUP BY doc_id ORDER BY doc_id"

  private def mulawOracleSql: String =
    s"WITH $pcmSmpCtes, " +
      "base AS (SELECT doc_id, sm[CAST(t.k AS BIGINT) + 1] AS s FROM smp CROSS JOIN range(0, 1024) t(k)), " +
      "c1 AS (SELECT doc_id, s, least(32635, abs(s)) + 132 AS xm FROM base), " +
      "c2 AS (SELECT *, CASE WHEN xm >= 16384 THEN 7 WHEN xm >= 8192 THEN 6 " +
      "WHEN xm >= 4096 THEN 5 WHEN xm >= 2048 THEN 4 WHEN xm >= 1024 THEN 3 " +
      "WHEN xm >= 512 THEN 2 WHEN xm >= 256 THEN 1 ELSE 0 END AS ex FROM c1), " +
      "c3 AS (SELECT doc_id, s, CASE WHEN s < 0 THEN -mag ELSE mag END AS dec FROM " +
      "(SELECT *, ((((xm >> (ex + 3)) & 15) * 8 + 132) << ex) - 132 AS mag FROM c2) t2) " +
      "SELECT doc_id, CAST(1024 AS INT) AS n_samples, TRUE AS ok, TRUE AS size_ok, " +
      "CAST(sum(dec * dec) AS BIGINT) AS energy_dec, CAST(max(abs(dec - s)) AS INT) AS max_err, " +
      "CAST(sum(abs(dec - s)) AS BIGINT) AS abs_err " +
      "FROM c3 GROUP BY doc_id ORDER BY doc_id"

  /** Round half away from zero in SQL — the twin of [[Jpeg.divHalf]]
    * (b always even and positive here, so `//` floor-division equals
    * truncation on the non-negative branches).
    */
  private def dhs(a: String, b: String): String =
    s"(CASE WHEN ($a) >= 0 THEN (($a) + ($b)//2)//($b) " +
      s"ELSE -((-($a) + ($b)//2)//($b)) END)"

  /** q_media_jpeg twin: replay the ENTIRE lossy pipeline in BIGINT —
    * tile 16×16 grayscale from the document bytes (planted gradient
    * row from its closed form), level shift, staged-integer FDCT
    * (basis scale 10⁴, 1/√2 = 7071/10⁴, round-half-away divisions),
    * quantize/dequantize against Annex K, staged-integer IDCT, clamp —
    * then the exact fidelity stats. Entropy coding is lossless, so
    * this equals the Spark side's encode→decode bit-for-bit.
    */
  private def jpegOracleSql: String =
    "WITH m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
      "bylist AS MATERIALIZED (SELECT doc_id, n, list_transform(range(CAST(0 AS BIGINT), n), " +
      "j -> CAST((strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+1 AS BIGINT), 1))-1)*16 " +
      "+ strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+2 AS BIGINT), 1))-1 AS BIGINT)) AS bs FROM m), " +
      "pxs AS MATERIALIZED (SELECT doc_id, t.p AS p, " +
      "CAST(CASE WHEN n = 0 THEN 0 ELSE bs[CAST(t.p % n AS BIGINT) + 1] END AS BIGINT) AS v " +
      "FROM bylist CROSS JOIN range(0, 256) t(p) " +
      "UNION ALL SELECT CAST(-1 AS BIGINT) AS doc_id, t.p AS p, CAST((7*t.p + 13) % 256 AS BIGINT) AS v FROM range(0, 256) t(p)), " +
      "px AS MATERIALIZED (SELECT doc_id, (p//16)//8*2 + (p%16)//8 AS bi, " +
      "(p//16)%8 AS y, (p%16)%8 AS x, v, v - 128 AS s FROM pxs), " +
      s"basis AS (SELECT * FROM (VALUES $jpegBasisValues) b(u, x, bv)), " +
      s"qt AS (SELECT * FROM (VALUES $jpegQtValues) q(u, v, qv)), " +
      // FDCT stage 1: iv(x, v) = Σ_y s(y,x)·B4(v,y)
      "i1 AS MATERIALIZED (SELECT p.doc_id, p.bi, p.x, b.u AS v, CAST(sum(p.s * b.bv) AS BIGINT) AS iv " +
      "FROM px p JOIN basis b ON b.x = p.y GROUP BY 1, 2, 3, 4), " +
      // FDCT stage 2: rv(u, v) = Σ_x iv·B4(u,x)
      "rw AS MATERIALIZED (SELECT i.doc_id, i.bi, b.u AS u, i.v AS v, CAST(sum(i.iv * b.bv) AS BIGINT) AS rv " +
      "FROM i1 i JOIN basis b ON b.x = i.x GROUP BY 1, 2, 3, 4), " +
      // normalize (cu, cv) and quantize→dequantize: d = round(r3/(4·Q·1e8))·Q
      "r2c AS (SELECT doc_id, bi, u, v, " +
      dhs("rv * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r2v FROM rw), " +
      "r3c AS (SELECT doc_id, bi, u, v, " +
      dhs("r2v * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r3v FROM r2c), " +
      "qc AS MATERIALIZED (SELECT r.doc_id, r.bi, r.u, r.v, " +
      dhs("r.r3v", "4 * CAST(q.qv AS BIGINT) * 100000000") + " * q.qv AS d " +
      "FROM r3c r JOIN qt q ON q.u = r.u AND q.v = r.v), " +
      // IDCT: t = round(d·cu·cv/1e4); i2 = round(Σ_v t·B4(v,y)/1e4); raw2 = Σ_u i2·B4(u,x)
      "tt AS MATERIALIZED (SELECT doc_id, bi, u, v, " +
      dhs("d * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END) * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") +
      " AS t FROM qc), " +
      "i2 AS MATERIALIZED (SELECT t.doc_id, t.bi, t.u, b.x AS y, " +
      dhs("CAST(sum(t.t * b.bv) AS BIGINT)", "10000") + " AS iv2 " +
      "FROM tt t JOIN basis b ON b.u = t.v GROUP BY 1, 2, 3, 4), " +
      "r2b AS MATERIALIZED (SELECT i.doc_id, i.bi, b.x AS x, i.y AS y, CAST(sum(i.iv2 * b.bv) AS BIGINT) AS rv2 " +
      "FROM i2 i JOIN basis b ON b.u = i.u GROUP BY 1, 2, 3, 4), " +
      "dec AS MATERIALIZED (SELECT doc_id, bi, x, y, " +
      "GREATEST(0, LEAST(255, " + dhs("rv2", "400000000") + " + 128)) AS pv FROM r2b), " +
      "er AS (SELECT d.doc_id, d.pv, p.v FROM dec d JOIN px p " +
      "ON p.doc_id = d.doc_id AND p.bi = d.bi AND p.x = d.x AND p.y = d.y) " +
      "SELECT doc_id, CAST(16 AS INT) AS w, CAST(16 AS INT) AS h, TRUE AS ok, TRUE AS size_ok, " +
      "CAST(sum(pv) AS BIGINT) AS pix_sum, CAST(max(abs(pv - v)) AS INT) AS max_err, " +
      "CAST(sum(abs(pv - v)) AS BIGINT) AS abs_err " +
      "FROM er GROUP BY doc_id ORDER BY doc_id"

  /** q_media_jpeg_color twin: the full lossy COLOR pipeline in BIGINT
    * — interleaved-RGB tile, fixed-point JFIF forward YCbCr (clamped),
    * 2×2-mean 4:2:0 subsample, the staged-integer FDCT/quant/dequant/
    * IDCT over all SIX blocks (4 luma against K.1, Cb/Cr against K.2),
    * replicated upsampling, and the decoder's exact fixed-point
    * YCbCr→RGB — then the fidelity stats over all 768 channel values.
    * Entropy coding is lossless, so this equals encodeColor→decode
    * bit-for-bit.
    */
  private def jpegColorOracleSql: String = {
    def cl(e: String): String = s"GREATEST(0, LEAST(255, $e))"
    // chroma-plane list index of the 2×2 cell member (ori, oci) ∈ {0,1}²
    def sub(pl: String, ori: Int, oci: Int): String =
      s"$pl[CAST((t.cp//8*2 + $ori)*16 + (t.cp%8)*2 + ${oci + 1} AS BIGINT)]"
    def mean4(pl: String): String =
      s"(${sub(pl, 0, 0)} + ${sub(pl, 0, 1)} + ${sub(pl, 1, 0)} + ${sub(pl, 1, 1)} + 2)//4"
    val chromaCp = "((y.p//16)//2)*8 + (y.p%16)//2"
    "WITH m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
      "bylist AS MATERIALIZED (SELECT doc_id, n, list_transform(range(CAST(0 AS BIGINT), n), " +
      "j -> CAST((strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+1 AS BIGINT), 1))-1)*16 " +
      "+ strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+2 AS BIGINT), 1))-1 AS BIGINT)) AS bs FROM m), " +
      "rgbp AS MATERIALIZED (SELECT doc_id, t.p AS p, " +
      "CAST(CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p) % n AS BIGINT) + 1] END AS BIGINT) AS r, " +
      "CAST(CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p + 1) % n AS BIGINT) + 1] END AS BIGINT) AS g, " +
      "CAST(CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p + 2) % n AS BIGINT) + 1] END AS BIGINT) AS b " +
      "FROM bylist CROSS JOIN range(0, 256) t(p) " +
      "UNION ALL SELECT CAST(-1 AS BIGINT) AS doc_id, t.p AS p, " +
      "CAST((7*(3*t.p) + 13) % 256 AS BIGINT), CAST((7*(3*t.p + 1) + 13) % 256 AS BIGINT), " +
      "CAST((7*(3*t.p + 2) + 13) % 256 AS BIGINT) FROM range(0, 256) t(p)), " +
      "ycc AS MATERIALIZED (SELECT doc_id, p, " +
      cl(dhs("2990*r + 5870*g + 1140*b", "10000")) + " AS yy, " +
      cl("128 + " + dhs("-1687*r - 3313*g + 5000*b", "10000")) + " AS cb, " +
      cl("128 + " + dhs("5000*r - 4187*g - 813*b", "10000")) + " AS cr FROM rgbp), " +
      "yccl AS MATERIALIZED (SELECT doc_id, list(cb ORDER BY p) AS cbl, list(cr ORDER BY p) AS crl FROM ycc GROUP BY doc_id), " +
      s"cs AS MATERIALIZED (SELECT doc_id, t.cp AS cp, ${mean4("cbl")} AS cbs, ${mean4("crl")} AS crs " +
      "FROM yccl CROSS JOIN range(0, 64) t(cp)), " +
      "blk AS MATERIALIZED (SELECT doc_id, (p//16)//8*2 + (p%16)//8 AS bi, " +
      "(p//16)%8 AS y, (p%16)%8 AS x, yy - 128 AS s FROM ycc " +
      "UNION ALL SELECT doc_id, 4 AS bi, cp//8 AS y, cp%8 AS x, cbs - 128 AS s FROM cs " +
      "UNION ALL SELECT doc_id, 5 AS bi, cp//8 AS y, cp%8 AS x, crs - 128 AS s FROM cs), " +
      s"basis AS (SELECT * FROM (VALUES $jpegBasisValues) b(u, x, bv)), " +
      s"qt AS (SELECT * FROM (VALUES $jpegQt2Values) q(tq, u, v, qv)), " +
      "i1 AS MATERIALIZED (SELECT p.doc_id, p.bi, p.x, b.u AS v, CAST(sum(p.s * b.bv) AS BIGINT) AS iv " +
      "FROM blk p JOIN basis b ON b.x = p.y GROUP BY 1, 2, 3, 4), " +
      "rw AS MATERIALIZED (SELECT i.doc_id, i.bi, b.u AS u, i.v AS v, CAST(sum(i.iv * b.bv) AS BIGINT) AS rv " +
      "FROM i1 i JOIN basis b ON b.x = i.x GROUP BY 1, 2, 3, 4), " +
      "r2c AS (SELECT doc_id, bi, u, v, " +
      dhs("rv * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r2v FROM rw), " +
      "r3c AS (SELECT doc_id, bi, u, v, " +
      dhs("r2v * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r3v FROM r2c), " +
      "qc AS MATERIALIZED (SELECT r.doc_id, r.bi, r.u, r.v, " +
      dhs("r.r3v", "4 * CAST(q.qv AS BIGINT) * 100000000") + " * q.qv AS d " +
      "FROM r3c r JOIN qt q ON q.tq = (CASE WHEN r.bi < 4 THEN 0 ELSE 1 END) AND q.u = r.u AND q.v = r.v), " +
      "tt AS MATERIALIZED (SELECT doc_id, bi, u, v, " +
      dhs("d * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END) * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") +
      " AS t FROM qc), " +
      "i2 AS MATERIALIZED (SELECT t.doc_id, t.bi, t.u, b.x AS y, " +
      dhs("CAST(sum(t.t * b.bv) AS BIGINT)", "10000") + " AS iv2 " +
      "FROM tt t JOIN basis b ON b.u = t.v GROUP BY 1, 2, 3, 4), " +
      "r2b AS MATERIALIZED (SELECT i.doc_id, i.bi, b.x AS x, i.y AS y, CAST(sum(i.iv2 * b.bv) AS BIGINT) AS rv2 " +
      "FROM i2 i JOIN basis b ON b.u = i.u GROUP BY 1, 2, 3, 4), " +
      "dec AS MATERIALIZED (SELECT doc_id, bi, x, y, " +
      "GREATEST(0, LEAST(255, " + dhs("rv2", "400000000") + " + 128)) AS pv FROM r2b), " +
      "ydec AS (SELECT doc_id, ((bi//2)*8 + y)*16 + (bi%2)*8 + x AS p, pv FROM dec WHERE bi < 4), " +
      "cbd AS (SELECT doc_id, y*8 + x AS cp, pv FROM dec WHERE bi = 4), " +
      "crd AS (SELECT doc_id, y*8 + x AS cp, pv FROM dec WHERE bi = 5), " +
      "rgbd AS MATERIALIZED (SELECT y.doc_id AS doc_id, y.p AS p, y.pv AS yy, cb.pv - 128 AS cb, cr.pv - 128 AS cr " +
      s"FROM ydec y JOIN cbd cb ON cb.doc_id = y.doc_id AND cb.cp = $chromaCp " +
      s"JOIN crd cr ON cr.doc_id = y.doc_id AND cr.cp = $chromaCp), " +
      s"out3 AS (SELECT doc_id, p, 0 AS ch, ${cl(s"yy + ${dhs(s"${Jpeg.YccC1}*cr", "65536")}")} AS pv FROM rgbd " +
      s"UNION ALL SELECT doc_id, p, 1 AS ch, ${cl(s"yy - ${dhs(s"${Jpeg.YccC2}*cb + ${Jpeg.YccC3}*cr", "65536")}")} FROM rgbd " +
      s"UNION ALL SELECT doc_id, p, 2 AS ch, ${cl(s"yy + ${dhs(s"${Jpeg.YccC4}*cb", "65536")}")} FROM rgbd), " +
      "er AS (SELECT o.doc_id, o.pv, CASE o.ch WHEN 0 THEN s.r WHEN 1 THEN s.g ELSE s.b END AS v " +
      "FROM out3 o JOIN rgbp s ON s.doc_id = o.doc_id AND s.p = o.p) " +
      "SELECT doc_id, CAST(16 AS INT) AS w, CAST(16 AS INT) AS h, TRUE AS ok, TRUE AS size_ok, " +
      "CAST(sum(pv) AS BIGINT) AS pix_sum, CAST(max(abs(pv - v)) AS INT) AS max_err, " +
      "CAST(sum(abs(pv - v)) AS BIGINT) AS abs_err " +
      "FROM er GROUP BY doc_id ORDER BY doc_id"
  }

  /** The MDCT codec's baked integer tables as DuckDB VALUES lists —
    * the SAME constants [[Mdct.W4]]/[[Mdct.C4]]/[[Mdct.Bits]]/
    * [[Mdct.Step]] the JVM codec multiplies by.
    */
  private def mdctWinValues: String =
    (0 until 2 * Mdct.N).map(n => s"($n, ${Mdct.W4(n)})").mkString(", ")

  private def mdctBasisValues: String =
    (for (n <- 0 until 2 * Mdct.N; k <- 0 until Mdct.N)
      yield s"($n, $k, ${Mdct.C4(n)(k)})").mkString(", ")

  private def mdctBandValues: String =
    (0 until Mdct.N).map { k =>
      val lo = -(1 << (Mdct.Bits(k) - 1)); val hi = (1 << (Mdct.Bits(k) - 1)) - 1
      s"($k, ${Mdct.Step(k)}, $lo, $hi)"
    }.mkString(", ")

  /** q_media_mdct twin: replay the ENTIRE transform-codec pipeline in
    * BIGINT — tile 256 PCM16 samples, per frame window (scale-10⁴
    * sine) + staged-integer MDCT, quantize/clamp/dequantize against
    * the fixed allocation, IMDCT + window, overlap-add, clamp — then
    * the exact fidelity stats. Bit packing is lossless, so this
    * equals the Spark side's encode→decode sample-for-sample.
    */
  private def mdctOracleSql: String =
    s"WITH $pcmSmpCtes, " +
      s"wtab AS (SELECT * FROM (VALUES $mdctWinValues) w(n, wv)), " +
      s"ctab AS (SELECT * FROM (VALUES $mdctBasisValues) c(n, k, cv)), " +
      s"btab AS (SELECT * FROM (VALUES $mdctBandValues) b(k, stp, lo, hi)), " +
      "fr AS MATERIALIZED (SELECT doc_id, t.f AS f, u.n AS n, " +
      "CAST(CASE WHEN 32*(t.f-1)+u.n >= 0 AND 32*(t.f-1)+u.n < 256 " +
      "THEN sm[CAST(32*(t.f-1)+u.n AS BIGINT) + 1] ELSE 0 END AS BIGINT) AS x " +
      "FROM smp CROSS JOIN range(0, 9) t(f) CROSS JOIN range(0, 64) u(n)), " +
      "xw AS MATERIALIZED (SELECT doc_id, f, n, x * wv AS xv FROM fr JOIN wtab USING (n)), " +
      "xk AS MATERIALIZED (SELECT s.doc_id AS doc_id, s.f AS f, c.k AS k, " +
      dhs("CAST(sum(s.xv * c.cv) AS BIGINT)", "100000000") + " AS mc " +
      "FROM xw s JOIN ctab c ON c.n = s.n GROUP BY 1, 2, 3), " +
      "qd AS MATERIALIZED (SELECT doc_id, f, x.k AS k, " +
      "GREATEST(b.lo, LEAST(b.hi, " + dhs("x.mc", "b.stp") + ")) * b.stp AS xd " +
      "FROM xk x JOIN btab b ON b.k = x.k), " +
      "ys AS MATERIALIZED (SELECT q.doc_id AS doc_id, q.f AS f, c.n AS n, " +
      dhs("2 * CAST(sum(q.xd * c.cv) AS BIGINT)", "320000") + " AS y1 " +
      "FROM qd q JOIN ctab c ON c.k = q.k GROUP BY 1, 2, 3), " +
      "yw AS (SELECT doc_id, f, n, " + dhs("y1 * wv", "10000") + " AS y " +
      "FROM ys JOIN wtab USING (n)), " +
      "rec AS MATERIALIZED (SELECT doc_id, 32*(f-1)+n AS g, " +
      "GREATEST(-32768, LEAST(32767, CAST(sum(y) AS BIGINT))) AS d " +
      "FROM yw WHERE 32*(f-1)+n >= 0 AND 32*(f-1)+n < 256 GROUP BY 1, 2), " +
      "er AS (SELECT r.doc_id AS doc_id, r.d AS d, smp.sm[CAST(r.g AS BIGINT) + 1] AS s " +
      "FROM rec r JOIN smp ON smp.doc_id = r.doc_id) " +
      "SELECT doc_id, CAST(256 AS INT) AS n_samples, CAST(9 AS INT) AS n_frames, " +
      "TRUE AS ok, TRUE AS size_ok, CAST(sum(d * d) AS BIGINT) AS energy_dec, " +
      "CAST(max(abs(d - s)) AS INT) AS max_err, CAST(sum(abs(d - s)) AS BIGINT) AS abs_err " +
      "FROM er GROUP BY doc_id ORDER BY doc_id"

  /** q_media_mjpeg twin: the q_media_jpeg staged-integer pipeline
    * keyed by (doc, frame) — frame 1 = the 16×16 tile, frame 2 = its
    * one-pixel cyclic shift — then the decoded frames join on the
    * pixel grid for the motion stats.
    */
  private def mjpegOracleSql: String =
    "WITH m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
      "bylist AS MATERIALIZED (SELECT doc_id, n, list_transform(range(CAST(0 AS BIGINT), n), " +
      "j -> CAST((strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+1 AS BIGINT), 1))-1)*16 " +
      "+ strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+2 AS BIGINT), 1))-1 AS BIGINT)) AS bs FROM m), " +
      "pxs AS MATERIALIZED (SELECT doc_id, f.fr AS fr, t.p AS p, " +
      "CAST(CASE WHEN n = 0 THEN 0 ELSE bs[CAST(((t.p + f.fr) % 256) % n AS BIGINT) + 1] END AS BIGINT) AS v " +
      "FROM bylist CROSS JOIN range(0, 256) t(p) CROSS JOIN range(0, 2) f(fr) " +
      "UNION ALL SELECT CAST(-1 AS BIGINT) AS doc_id, f.fr AS fr, t.p AS p, " +
      "CAST((7*((t.p + f.fr) % 256) + 13) % 256 AS BIGINT) AS v " +
      "FROM range(0, 256) t(p) CROSS JOIN range(0, 2) f(fr)), " +
      "px AS MATERIALIZED (SELECT doc_id, fr, (p//16)//8*2 + (p%16)//8 AS bi, " +
      "(p//16)%8 AS y, (p%16)%8 AS x, v, v - 128 AS s FROM pxs), " +
      s"basis AS (SELECT * FROM (VALUES $jpegBasisValues) b(u, x, bv)), " +
      s"qt AS (SELECT * FROM (VALUES $jpegQtValues) q(u, v, qv)), " +
      "i1 AS MATERIALIZED (SELECT p.doc_id, p.fr, p.bi, p.x, b.u AS v, CAST(sum(p.s * b.bv) AS BIGINT) AS iv " +
      "FROM px p JOIN basis b ON b.x = p.y GROUP BY ALL), " +
      "rw AS MATERIALIZED (SELECT i.doc_id, i.fr, i.bi, b.u AS u, i.v AS v, CAST(sum(i.iv * b.bv) AS BIGINT) AS rv " +
      "FROM i1 i JOIN basis b ON b.x = i.x GROUP BY ALL), " +
      "r2c AS (SELECT doc_id, fr, bi, u, v, " +
      dhs("rv * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r2v FROM rw), " +
      "r3c AS (SELECT doc_id, fr, bi, u, v, " +
      dhs("r2v * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r3v FROM r2c), " +
      "qc AS MATERIALIZED (SELECT r.doc_id, r.fr, r.bi, r.u, r.v, " +
      dhs("r.r3v", "4 * CAST(q.qv AS BIGINT) * 100000000") + " * q.qv AS d " +
      "FROM r3c r JOIN qt q ON q.u = r.u AND q.v = r.v), " +
      "tt AS MATERIALIZED (SELECT doc_id, fr, bi, u, v, " +
      dhs("d * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END) * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") +
      " AS t FROM qc), " +
      "i2 AS MATERIALIZED (SELECT t.doc_id, t.fr, t.bi, t.u, b.x AS y, " +
      dhs("CAST(sum(t.t * b.bv) AS BIGINT)", "10000") + " AS iv2 " +
      "FROM tt t JOIN basis b ON b.u = t.v GROUP BY ALL), " +
      "r2b AS MATERIALIZED (SELECT i.doc_id, i.fr, i.bi, b.x AS x, i.y AS y, CAST(sum(i.iv2 * b.bv) AS BIGINT) AS rv2 " +
      "FROM i2 i JOIN basis b ON b.u = i.u GROUP BY ALL), " +
      "dec AS MATERIALIZED (SELECT doc_id, fr, bi, x, y, " +
      "GREATEST(0, LEAST(255, " + dhs("rv2", "400000000") + " + 128)) AS pv FROM r2b), " +
      "mo AS (SELECT e0.doc_id AS doc_id, abs(e1.pv - e0.pv) AS mv " +
      "FROM (SELECT * FROM dec WHERE fr = 0) e0 JOIN (SELECT * FROM dec WHERE fr = 1) e1 " +
      "ON e0.doc_id = e1.doc_id AND e0.bi = e1.bi AND e0.x = e1.x AND e0.y = e1.y), " +
      "ps AS (SELECT doc_id, CAST(sum(pv) AS BIGINT) AS pix_sum FROM dec GROUP BY doc_id), " +
      "mg AS (SELECT doc_id, CAST(sum(mv) AS BIGINT) AS motion_abs, CAST(max(mv) AS INT) AS max_motion FROM mo GROUP BY doc_id) " +
      "SELECT ps.doc_id AS doc_id, CAST(2 AS INT) AS n_frames, TRUE AS ok, TRUE AS size_ok, " +
      "pix_sum, motion_abs, max_motion FROM ps JOIN mg USING (doc_id) ORDER BY doc_id"

  /** q_media_pframe twin: frame 1's staged-integer JPEG replay gives
    * the reconstructed reference; the motion search is a 25-offset
    * SAD argmin over it (edge-clamped sampling, ties to smallest
    * (dy, dx) — the encoder's scan order); the residual then runs the
    * SAME staged DCT chain as the intra replay but with no level
    * shift, the ±1023 baseline-Huffman saturation between quantize
    * and dequantize, and no +128 on the way out; reconstruction
    * clamps prediction + residual. Entropy coding and the DC
    * predictor chain are lossless, so this equals encode→decode
    * value-for-value.
    */
  private def pframeOracleSql: String =
    "WITH m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
      "bylist AS MATERIALIZED (SELECT doc_id, n, list_transform(range(CAST(0 AS BIGINT), n), " +
      "j -> CAST((strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+1 AS BIGINT), 1))-1)*16 " +
      "+ strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+2 AS BIGINT), 1))-1 AS BIGINT)) AS bs FROM m), " +
      // both frames from the source formula: fr 0 = the tile, fr 1 =
      // 17-position cyclic shift + saturating +5 brightness step
      "pxs AS MATERIALIZED (SELECT doc_id, f.fr AS fr, t.p AS p, " +
      "CASE WHEN f.fr = 0 THEN CAST(CASE WHEN n = 0 THEN 0 ELSE bs[CAST(t.p % n AS BIGINT) + 1] END AS BIGINT) " +
      "ELSE least(255, CAST(CASE WHEN n = 0 THEN 0 ELSE bs[CAST(((t.p + 17) % 256) % n AS BIGINT) + 1] END AS BIGINT) + 5) END AS v " +
      "FROM bylist CROSS JOIN range(0, 256) t(p) CROSS JOIN range(0, 2) f(fr) " +
      "UNION ALL SELECT CAST(-1 AS BIGINT) AS doc_id, f.fr AS fr, t.p AS p, " +
      "CASE WHEN f.fr = 0 THEN CAST((7*t.p + 13) % 256 AS BIGINT) " +
      "ELSE least(255, CAST((7*((t.p + 17) % 256) + 13) % 256 AS BIGINT) + 5) END AS v " +
      "FROM range(0, 256) t(p) CROSS JOIN range(0, 2) f(fr)), " +
      // ---- intra replay of frame 0 (the q_media_jpeg chain) ----
      "px AS MATERIALIZED (SELECT doc_id, (p//16)//8*2 + (p%16)//8 AS bi, " +
      "(p//16)%8 AS y, (p%16)%8 AS x, v, v - 128 AS s FROM pxs WHERE fr = 0), " +
      s"basis AS (SELECT * FROM (VALUES $jpegBasisValues) b(u, x, bv)), " +
      s"qt AS (SELECT * FROM (VALUES $jpegQtValues) q(u, v, qv)), " +
      "i1 AS MATERIALIZED (SELECT p.doc_id, p.bi, p.x, b.u AS v, CAST(sum(p.s * b.bv) AS BIGINT) AS iv " +
      "FROM px p JOIN basis b ON b.x = p.y GROUP BY ALL), " +
      "rw AS MATERIALIZED (SELECT i.doc_id, i.bi, b.u AS u, i.v AS v, CAST(sum(i.iv * b.bv) AS BIGINT) AS rv " +
      "FROM i1 i JOIN basis b ON b.x = i.x GROUP BY ALL), " +
      "r2c AS (SELECT doc_id, bi, u, v, " +
      dhs("rv * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r2v FROM rw), " +
      "r3c AS (SELECT doc_id, bi, u, v, " +
      dhs("r2v * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r3v FROM r2c), " +
      "qc AS MATERIALIZED (SELECT r.doc_id, r.bi, r.u, r.v, " +
      dhs("r.r3v", "4 * CAST(q.qv AS BIGINT) * 100000000") + " * q.qv AS d " +
      "FROM r3c r JOIN qt q ON q.u = r.u AND q.v = r.v), " +
      "tt AS MATERIALIZED (SELECT doc_id, bi, u, v, " +
      dhs("d * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END) * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") +
      " AS t FROM qc), " +
      "i2 AS MATERIALIZED (SELECT t.doc_id, t.bi, t.u, b.x AS y, " +
      dhs("CAST(sum(t.t * b.bv) AS BIGINT)", "10000") + " AS iv2 " +
      "FROM tt t JOIN basis b ON b.u = t.v GROUP BY ALL), " +
      "r2b AS MATERIALIZED (SELECT i.doc_id, i.bi, b.x AS x, i.y AS y, CAST(sum(i.iv2 * b.bv) AS BIGINT) AS rv2 " +
      "FROM i2 i JOIN basis b ON b.u = i.u GROUP BY ALL), " +
      "decp AS MATERIALIZED (SELECT doc_id, (bi//2)*8 + y AS ay, (bi%2)*8 + x AS ax, " +
      "GREATEST(0, LEAST(255, " + dhs("rv2", "400000000") + " + 128)) AS pv FROM r2b), " +
      // ---- motion search over the reconstructed reference ----
      "f2p AS MATERIALIZED (SELECT doc_id, p//16 AS ay, p%16 AS ax, v FROM pxs WHERE fr = 1), " +
      "offs AS (SELECT oy.dy AS dy, ox.dx AS dx FROM range(-2, 3) oy(dy) CROSS JOIN range(-2, 3) ox(dx)), " +
      "sadt AS MATERIALIZED (SELECT f.doc_id, (f.ay//8)*2 + (f.ax//8) AS b, o.dy AS dy, o.dx AS dx, " +
      "CAST(sum(abs(f.v - d.pv)) AS BIGINT) AS sad " +
      "FROM f2p f CROSS JOIN offs o JOIN decp d ON d.doc_id = f.doc_id " +
      "AND d.ay = GREATEST(0, LEAST(15, f.ay + o.dy)) AND d.ax = GREATEST(0, LEAST(15, f.ax + o.dx)) " +
      "GROUP BY ALL), " +
      "best AS MATERIALIZED (SELECT doc_id, b, dy, dx FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY doc_id, b ORDER BY sad, dy, dx) AS rn FROM sadt) WHERE rn = 1), " +
      // ---- residual pixels against the chosen prediction ----
      "rp AS MATERIALIZED (SELECT f.doc_id, w.b AS bi, f.ay%8 AS y, f.ax%8 AS x, " +
      "f.v AS v2, d.pv AS pd, f.v - d.pv AS s " +
      "FROM f2p f JOIN best w ON w.doc_id = f.doc_id AND w.b = (f.ay//8)*2 + (f.ax//8) " +
      "JOIN decp d ON d.doc_id = f.doc_id " +
      "AND d.ay = GREATEST(0, LEAST(15, f.ay + w.dy)) AND d.ax = GREATEST(0, LEAST(15, f.ax + w.dx))), " +
      // ---- residual DCT chain: no level shift, ±1023 saturation ----
      "i1r AS MATERIALIZED (SELECT p.doc_id, p.bi, p.x, b.u AS v, CAST(sum(p.s * b.bv) AS BIGINT) AS iv " +
      "FROM rp p JOIN basis b ON b.x = p.y GROUP BY ALL), " +
      "rwr AS MATERIALIZED (SELECT i.doc_id, i.bi, b.u AS u, i.v AS v, CAST(sum(i.iv * b.bv) AS BIGINT) AS rv " +
      "FROM i1r i JOIN basis b ON b.x = i.x GROUP BY ALL), " +
      "r2cr AS (SELECT doc_id, bi, u, v, " +
      dhs("rv * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r2v FROM rwr), " +
      "r3cr AS (SELECT doc_id, bi, u, v, " +
      dhs("r2v * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") + " AS r3v FROM r2cr), " +
      "qcr AS MATERIALIZED (SELECT r.doc_id, r.bi, r.u, r.v, " +
      "GREATEST(-1023, LEAST(1023, " + dhs("r.r3v", "4 * CAST(q.qv AS BIGINT) * 100000000") + ")) * q.qv AS d " +
      "FROM r3cr r JOIN qt q ON q.u = r.u AND q.v = r.v), " +
      "ttr AS MATERIALIZED (SELECT doc_id, bi, u, v, " +
      dhs("d * (CASE WHEN u = 0 THEN 7071 ELSE 10000 END) * (CASE WHEN v = 0 THEN 7071 ELSE 10000 END)", "10000") +
      " AS t FROM qcr), " +
      "i2r AS MATERIALIZED (SELECT t.doc_id, t.bi, t.u, b.x AS y, " +
      dhs("CAST(sum(t.t * b.bv) AS BIGINT)", "10000") + " AS iv2 " +
      "FROM ttr t JOIN basis b ON b.u = t.v GROUP BY ALL), " +
      "r2br AS MATERIALIZED (SELECT i.doc_id, i.bi, b.x AS x, i.y AS y, CAST(sum(i.iv2 * b.bv) AS BIGINT) AS rv2 " +
      "FROM i2r i JOIN basis b ON b.u = i.u GROUP BY ALL), " +
      "recon AS MATERIALIZED (SELECT r.doc_id, GREATEST(0, LEAST(255, rp.pd + " +
      dhs("r.rv2", "400000000") + ")) AS rc, rp.v2 AS v2 " +
      "FROM r2br r JOIN rp ON rp.doc_id = r.doc_id AND rp.bi = r.bi AND rp.x = r.x AND rp.y = r.y), " +
      "mvt AS (SELECT doc_id, CAST(sum(abs(dy) + abs(dx)) AS BIGINT) AS mv_abs FROM best GROUP BY doc_id), " +
      "st AS (SELECT doc_id, CAST(sum(rc) AS BIGINT) AS pix_sum, " +
      "CAST(max(abs(rc - v2)) AS INT) AS max_err, CAST(sum(abs(rc - v2)) AS BIGINT) AS abs_err " +
      "FROM recon GROUP BY doc_id) " +
      "SELECT st.doc_id AS doc_id, CAST(2 AS INT) AS n_frames, TRUE AS ok, TRUE AS size_ok, " +
      "mv_abs, pix_sum, max_err, abs_err FROM st JOIN mvt USING (doc_id) ORDER BY doc_id"

  val oracleSql: Map[String, String] = Map(
    "q_media_jpeg" -> jpegOracleSql,
    "q_media_jpeg_color" -> jpegColorOracleSql,
    "q_media_mdct" -> mdctOracleSql,
    "q_media_mjpeg" -> mjpegOracleSql,
    "q_media_pframe" -> pframeOracleSql,
    "q_media_mulaw" -> mulawOracleSql,
    "q_media_adpcm" -> adpcmOracleSql,
    "q_multimodal_meta" ->
      ("SELECT doc_id, 'text/plain' AS mime, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes, " +
        "md5(text) AS content_md5 FROM documents ORDER BY doc_id"),
    "q_media_resize" ->
      ("WITH m AS (SELECT doc_id, hex(encode(text)) AS mhex, octet_length(encode(text)) AS n FROM documents) " +
        "SELECT doc_id, CAST(n AS INT) AS orig_bytes, CAST(16 AS INT) AS thumb_bytes, " +
        // empty payload: the Spark stub emits 16 zero bytes, so the hex
        // replay must too (substr over an empty hex string would yield '')
        "md5(CASE WHEN n = 0 THEN repeat('00', 16) ELSE " +
        "list_reduce(list_transform(range(0, 16), i -> substr(mhex, CAST((i*n)//16 AS BIGINT)*2 + 1, 2)), (a, b) -> a || b) END) AS thumb_md5 " +
        "FROM m ORDER BY doc_id"),
    "q_frame_sample" ->
      ("WITH m AS (SELECT doc_id, hex(encode(text)) AS mhex, octet_length(encode(text)) AS n " +
        "FROM documents WHERE octet_length(encode(text)) >= 32) " +
        "SELECT doc_id, CAST(i AS INT) AS frame_no, md5(substr(mhex, CAST(i*128 AS BIGINT) + 1, 64)) AS frame_hash " +
        "FROM m CROSS JOIN range(0, 100000) t(i) WHERE i <= (n - 32) // 64 " +
        "ORDER BY doc_id, frame_no"),
    "q_media_features" ->
      ("WITH m AS (SELECT doc_id, hex(encode(text)) AS mhex, octet_length(encode(text)) AS n FROM documents), " +
        "f AS (SELECT doc_id, n, i, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(CAST((i*n)//8 AS BIGINT), CAST(((i+1)*n)//8 AS BIGINT)), " +
        "j -> CAST((strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+1 AS BIGINT), 1))-1)*16 " +
        "+ strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+2 AS BIGINT), 1))-1 AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 1000003) AS acc " +
        "FROM m CROSS JOIN (VALUES (0), (7)) t(i)) " +
        "SELECT doc_id, CAST(max(n) AS INT) AS n_bytes, " +
        "round(CAST(max(CASE WHEN i = 0 THEN acc % 1000 END) AS DOUBLE)/1000, 4) AS feat0, " +
        "round(CAST(max(CASE WHEN i = 7 THEN acc % 1000 END) AS DOUBLE)/1000, 4) AS feat7 " +
        "FROM f GROUP BY doc_id ORDER BY doc_id"),
    "q_media_audio" ->
      // replay the fixture rule (bytes → tiled LE PCM16 samples) and
      // every integer fold; the one IEEE op is the final sqrt
      ("WITH m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, " +
        "CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
        "bylist AS MATERIALIZED (SELECT doc_id, list_transform(range(CAST(0 AS BIGINT), CAST(2048 AS BIGINT)), " +
        "j -> CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE " +
        "CAST((strpos('0123456789ABCDEF', substr(mhex, CAST((j % n)*2+1 AS BIGINT), 1))-1)*16 " +
        "+ strpos('0123456789ABCDEF', substr(mhex, CAST((j % n)*2+2 AS BIGINT), 1))-1 AS BIGINT) END) AS bs FROM m), " +
        // little-endian signed 16-bit: low byte at 2k, high at 2k+1
        "smp AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 1024), " +
        "k -> bs[CAST(2*k AS BIGINT)+1] + 256*bs[CAST(2*k AS BIGINT)+2] " +
        "- CASE WHEN bs[CAST(2*k AS BIGINT)+2] >= 128 THEN 65536 ELSE 0 END) AS sm FROM bylist), " +
        "feat AS MATERIALIZED (SELECT doc_id, " +
        "CAST(list_sum(list_transform(sm, v -> v*v)) AS BIGINT) AS energy, " +
        "CAST(len(list_filter(range(1, 1024), k -> (sm[CAST(k AS BIGINT)] < 0) <> (sm[CAST(k AS BIGINT)+1] < 0))) AS INT) AS zcr " +
        "FROM smp), " +
        "fr AS MATERIALIZED (SELECT doc_id, t.x AS x, " +
        "CAST(list_sum(sm[CAST(32*t.x AS BIGINT)+1 : CAST(32*t.x+32 AS BIGINT)]) AS BIGINT) AS f " +
        "FROM smp CROSS JOIN range(0, 32) t(x)), " +
        s"basis AS (SELECT * FROM (VALUES $dctBasisValues) b(u, x, bv)), " +
        "bnd AS (SELECT fr.doc_id, b.u AS u, CAST(sum(b.bv * fr.f) AS BIGINT) AS bb " +
        "FROM fr JOIN basis b ON b.x = fr.x GROUP BY 1, 2), " +
        "bp AS (SELECT doc_id, " +
        (0 until 8).map(u => s"max(CASE WHEN u = $u THEN bb END) AS b$u")
          .mkString(", ") +
        " FROM bnd GROUP BY doc_id) " +
        "SELECT f.doc_id AS doc_id, CAST(1024 AS INT) AS n_samples, f.energy AS energy, " +
        "sqrt(CAST(f.energy AS DOUBLE) / 1024) AS rms, f.zcr AS zcr, " +
        (0 until 8).map(u => s"bp.b$u AS b$u").mkString(", ") +
        " FROM feat f JOIN bp USING (doc_id) ORDER BY doc_id"),
    "q_media_phash" -> {
      // the SAME fixed-point DCT basis constants the Spark side bakes —
      // the integer arithmetic is then engine-identical by construction
      val basisValues = dctBasisValues
      "WITH m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
        "bylist AS MATERIALIZED (SELECT doc_id, n, list_transform(range(CAST(0 AS BIGINT), n), " +
        "j -> CAST((strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+1 AS BIGINT), 1))-1)*16 " +
        "+ strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+2 AS BIGINT), 1))-1 AS BIGINT)) AS bs FROM m), " +
        // the 64×64 tiled pixel grid (the image fixture); the variant
        // corrupts the LAST pixel's low bit — one bad byte re-encode
        "pxl AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 4096), " +
        "i -> CASE WHEN n = 0 THEN 0 ELSE bs[CAST(i % n AS BIGINT) + 1] END) AS p FROM bylist), " +
        "allpx AS MATERIALIZED (SELECT doc_id, p FROM pxl " +
        "UNION ALL SELECT doc_id + 1000000000, list_append(p[1:4095], xor(p[4096], 1)) FROM pxl), " +
        // 2×2 block sums at (y2, x2) — the 32×32 downsample
        "g AS MATERIALIZED (SELECT doc_id, CAST(t.k // 32 AS BIGINT) AS y2, CAST(t.k % 32 AS BIGINT) AS x2, " +
        "p[CAST(2*(t.k//32)*64 + 2*(t.k%32) AS BIGINT) + 1] + p[CAST(2*(t.k//32)*64 + 2*(t.k%32) AS BIGINT) + 2] + " +
        "p[CAST((2*(t.k//32)+1)*64 + 2*(t.k%32) AS BIGINT) + 1] + p[CAST((2*(t.k//32)+1)*64 + 2*(t.k%32) AS BIGINT) + 2] AS gv " +
        "FROM allpx CROSS JOIN range(0, 1024) t(k)), " +
        s"basis AS (SELECT * FROM (VALUES $basisValues) b(u, x, bv)), " +
        // separable integer DCT: inner(x2, v), then F(u, v) — exact sums
        "inr AS MATERIALIZED (SELECT g.doc_id, g.x2, b.u AS v, CAST(sum(g.gv * b.bv) AS BIGINT) AS s " +
        "FROM g JOIN basis b ON b.x = g.y2 GROUP BY 1, 2, 3), " +
        "co AS MATERIALIZED (SELECT i.doc_id, b.u, i.v, CAST(sum(b.bv * i.s) AS BIGINT) AS c " +
        "FROM inr i JOIN basis b ON b.x = i.x2 GROUP BY 1, 2, 3), " +
        "md AS (SELECT doc_id, (list(c ORDER BY c))[32] AS med FROM co GROUP BY doc_id), " +
        "bits AS (SELECT co.doc_id, co.u, co.v, CASE WHEN co.c > md.med THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit " +
        "FROM co JOIN md ON co.doc_id = md.doc_id), " +
        "c AS MATERIALIZED (SELECT doc_id, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), (list(bit ORDER BY u, v))[1:32]), (a, b) -> a * 2 + b) AS w1, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), (list(bit ORDER BY u, v))[33:64]), (a, b) -> a * 2 + b) AS w2 " +
        "FROM bits GROUP BY doc_id), " +
        "bands AS (SELECT doc_id, w1, w2, unnest([(w1 >> 16) & 65535, w1 & 65535, (w2 >> 16) & 65535, w2 & 65535]) AS v, " +
        "unnest([0, 1, 2, 3]) AS band FROM c), " +
        "p AS (SELECT DISTINCT a.doc_id AS ai, b.doc_id AS bi, a.w1 AS aw1, a.w2 AS aw2, b.w1 AS bw1, b.w2 AS bw2 " +
        "FROM bands a JOIN bands b ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id) " +
        "SELECT ai, bi, CAST(bit_count(xor(aw1, bw1)) + bit_count(xor(aw2, bw2)) AS INT) AS ham " +
        "FROM p WHERE bit_count(xor(aw1, bw1)) + bit_count(xor(aw2, bw2)) <= 8 ORDER BY ai, bi"
    },
    "q_media_color" ->
      // the P6 pixel replay: byte list from the document's hex, tiled
      // to 12288 interleaved-RGB bytes, per-pixel channel triples, all
      // sums exact integers (the phash bylist machinery, color form)
      ("WITH m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
        "bylist AS MATERIALIZED (SELECT doc_id, n, list_transform(range(CAST(0 AS BIGINT), n), " +
        "j -> CAST((strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+1 AS BIGINT), 1))-1)*16 " +
        "+ strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+2 AS BIGINT), 1))-1 AS BIGINT)) AS bs FROM m), " +
        "px AS (SELECT doc_id, " +
        "CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p) % n AS BIGINT) + 1] END AS r, " +
        "CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p + 1) % n AS BIGINT) + 1] END AS g, " +
        "CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p + 2) % n AS BIGINT) + 1] END AS b " +
        "FROM bylist CROSS JOIN range(0, 4096) t(p)), " +
        "agg AS (SELECT doc_id, CAST(sum(r) AS BIGINT) AS r_sum, CAST(sum(g) AS BIGINT) AS g_sum, " +
        "CAST(sum(b) AS BIGINT) AS b_sum, CAST(sum(abs(r - g)) AS BIGINT) AS rg_abs, " +
        "CAST(sum(abs(r + g - 2*b)) AS BIGINT) AS yb2_abs FROM px GROUP BY doc_id) " +
        "SELECT doc_id, r_sum, g_sum, b_sum, rg_abs, yb2_abs, " +
        "CASE WHEN r_sum >= g_sum AND r_sum >= b_sum THEN 'r' WHEN g_sum >= b_sum THEN 'g' ELSE 'b' END AS dom " +
        "FROM agg ORDER BY doc_id"),
    "q_media_png" ->
      // the PNG twin replays the channel sums from the RAW source bytes
      // (the round-trip contract makes decoded pixels ≡ source tiling,
      // so this is full value parity, not invariant-only); round-trip
      // and container-bound booleans assert the codec contract, and the
      // planted gradient row's sums come from the closed form
      // byte(i) = (7i+13) mod 256 → r(p)=(21p+13)%256 etc.
      ("WITH m AS MATERIALIZED (SELECT doc_id, hex(encode(text)) AS mhex, CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents), " +
        "bylist AS MATERIALIZED (SELECT doc_id, n, list_transform(range(CAST(0 AS BIGINT), n), " +
        "j -> CAST((strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+1 AS BIGINT), 1))-1)*16 " +
        "+ strpos('0123456789ABCDEF', substr(mhex, CAST(j*2+2 AS BIGINT), 1))-1 AS BIGINT)) AS bs FROM m), " +
        "px AS (SELECT doc_id, " +
        "CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p) % n AS BIGINT) + 1] END AS r, " +
        "CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p + 1) % n AS BIGINT) + 1] END AS g, " +
        "CASE WHEN n = 0 THEN 0 ELSE bs[CAST((3*t.p + 2) % n AS BIGINT) + 1] END AS b " +
        "FROM bylist CROSS JOIN range(0, 4096) t(p)), " +
        "docs AS (SELECT doc_id, CAST(64 AS INT) AS w, CAST(64 AS INT) AS h, " +
        "TRUE AS roundtrip, TRUE AS size_ok, " +
        "CAST(sum(r) AS BIGINT) AS r_sum, CAST(sum(g) AS BIGINT) AS g_sum, " +
        "CAST(sum(b) AS BIGINT) AS b_sum FROM px GROUP BY doc_id), " +
        "planted AS (SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(64 AS INT) AS w, CAST(64 AS INT) AS h, " +
        "TRUE AS roundtrip, TRUE AS size_ok, " +
        "CAST(sum((21*t.p + 13) % 256) AS BIGINT) AS r_sum, " +
        "CAST(sum((21*t.p + 20) % 256) AS BIGINT) AS g_sum, " +
        "CAST(sum((21*t.p + 27) % 256) AS BIGINT) AS b_sum FROM range(0, 4096) t(p)) " +
        "SELECT * FROM planted UNION ALL SELECT * FROM docs ORDER BY doc_id")
  )
}
