package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media document: opaque binary payload + typed metadata. */
final case class MediaDoc(doc_id: Long, media_type: String, payload: Array[Byte])

/** Extracted features. Byte-level fields are always present; the decoded
  * dimensions are None (null columns) when the payload is not a
  * recognized container — never fabricated. */
final case class MediaFeatures(doc_id: Long, media_type: String,
    n_bytes: Int, first_byte: Int, width: Option[Int], height: Option[Int],
    n_frames: Option[Int])

/** One fixed-size slice of a media payload (audio segmentation shape). */
final case class MediaChunk(doc_id: Long, chunk_idx: Int, chunk: Array[Byte])

/** Multimodal column plumbing (north-star extension): image/audio/video
  * as opaque `binary` columns with typed metadata, decoded/featurized in
  * batched per-partition passes.
  *
  * Container METADATA is decoded for real across all three modalities:
  * `decodeImageHeader` parses actual PNG / GIF / BMP / JPEG headers,
  * `decodeWavHeader` walks real RIFF/WAVE chunks, and `decodeMp4Header`
  * walks real ISO-BMFF boxes to moov/mvhd — no codec library needed for
  * metadata, pure JVM, runs unchanged on any executor. Synthesized
  * fixtures (`synthBmp`/`synthWav`/`synthMp4`) exercise each real path
  * end-to-end on executors (x41/x45/x46, all DuckDB-oracle-backed).
  *
  * ==== Unrecognized payloads (no fabrication) ====
  * No pixel-codec libraries exist in this environment, so payloads whose
  * bytes are NOT a recognized container produce NULL decoded dimensions
  * (`decode` returns None → nullable feature columns) and pass through
  * `resizeAll` UNCHANGED — the honest contract for a production pipeline
  * missing a codec, and the place to plug a JNI/codec call in. The
  * Spark-side plumbing — binary schema, Dataset encoders, mapPartitions
  * batching, partition sizing — is real and tested against real
  * containers (BMP/PNG/GIF/JPEG headers, RIFF/WAVE, ISO-BMFF).
  *
  * Scale design: `mapPartitions` amortizes decoder initialization once per
  * partition (the expensive part for real codecs); payloads never leave
  * their partition — feature extraction is map-only over 100 TB, and the
  * narrow `MediaFeatures` output (not the blobs) is what any downstream
  * shuffle carries.
  */
object Multimodal {

  /** PRODUCTION media ingestion: image/audio/video FILES on disk or an
    * object store → [[MediaDoc]] rows, via Spark's `binaryFile` source
    * (distributed whole-file reads; each file becomes one row on whatever
    * executor reads it — payloads never visit the driver). `doc_id` is
    * the file name's leading decimal digits (`00042.bmp` → 42 — the
    * layout a corpus exporter writes); names without a digit prefix get a
    * stable non-negative hash of the file name (documented fallback, no
    * collision guarantee). `media_type` is `media/<extension>`.
    *
    * Scale notes: `binaryFile` lists and splits by FILE (one row per
    * file, `spark.sql.files.maxPartitionBytes` packs small files per
    * task), so millions of small media files want a compacted upstream
    * layout (tar/parquet binary columns) — but the per-file path is
    * exactly what a crawl delivers, and this is the bridge from it to
    * every decode/resize/feature operator in this module (x59 runs the
    * real-BMP decode over files written and read back through this).
    */
  def readMedia(spark: SparkSession, path: String,
      glob: String = "*"): Dataset[MediaDoc] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val name = p.substring(p.lastIndexOf('/') + 1)
        val digits = name.takeWhile(_.isDigit)
        val id =
          if (digits.nonEmpty) digits.toLong
          else name.hashCode.toLong & 0x7fffffffL
        val dot = name.lastIndexOf('.')
        val ext = if (dot >= 0) name.substring(dot + 1).toLowerCase else "bin"
        MediaDoc(id, s"media/$ext", bytes)
      }
  }

  /** Attach a fake binary payload to the documents table (UTF-8 bytes of
    * the text stand in for image bytes; media_type derived from source).
    */
  def attachPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      concat(lit("media/"), col("source")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))

  /** REAL image-header decode: (width, height, format) parsed from the
    * payload's actual container bytes.
    *
    *   - PNG: full 8-byte signature, then the IHDR chunk's big-endian
    *     width/height at offsets 16/20 (ISO/IEC 15948 §5.2, §11.2.2).
    *   - GIF: "GIF87a"/"GIF89a" magic, then the Logical Screen
    *     Descriptor's little-endian u16 width/height at offsets 6/8.
    *   - BMP: "BM" magic + a known DIB header size at offset 14, then
    *     little-endian i32 width/height at 18/22 (height may be negative
    *     for top-down rows — dimension is its magnitude).
    *   - JPEG: FF D8 FF SOI, then a marker-segment walk to the first
    *     SOFn frame header, whose big-endian height/width sit at +5/+7
    *     (ITU-T T.81 §B.2.2).
    *
    * The magic checks are strict (full signatures, not 1-2 bytes), so
    * arbitrary text/audio payloads never false-positive; `None` makes
    * `decode` return None → NULL feature columns (never fabricated).
    */
  def decodeImageHeader(p: Array[Byte]): Option[(Int, Int, String)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val pngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toInt)
    val dibSizes = Set(12, 40, 52, 56, 64, 108, 124)
    if (p.length >= 24 && (0 until 8).forall(i => u8(i) == pngSig(i)))
      Some((be32(16), be32(20), "png"))
    else if (p.length >= 10 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
        p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a')
      Some((le16(6), le16(8), "gif"))
    else if (p.length >= 26 && p(0) == 'B' && p(1) == 'M' && dibSizes(le32(14))
        && le32(18) > 0 && le32(22) != 0) // width strictly positive; height
      // nonzero (negative height = top-down row order, magnitude is valid)
      Some((le32(18), math.abs(le32(22)), "bmp"))
    else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8 && u8(2) == 0xff)
      jpegDims(p)
    else None
  }

  /** JPEG marker walk to the first SOFn (start-of-frame) segment. SOF
    * markers are C0-CF minus C4 (DHT), C8 (JPG), CC (DAC); each non-SOI
    * segment carries a big-endian u16 length that includes itself.
    */
  private def jpegDims(p: Array[Byte]): Option[(Int, Int, String)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    var i = 2
    while (i + 3 < p.length) {
      if (u8(i) != 0xff) return None
      val m = u8(i + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2
      else if (m == 0xd9) return None // EOI carries no length: stream ended
      else {                          // with no SOF — not a decodable frame
        val len = be16(i + 2)
        if (len < 2) return None
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return if (i + 8 < p.length) Some((be16(i + 7), be16(i + 5), "jpeg")) else None
        i += 2 + len
      }
    }
    None
  }

  /** Decode dimensions: real container parse when the payload IS an image
    * (single still frame); None — never fabricated values — otherwise. */
  def decode(payload: Array[Byte]): Option[(Int, Int, Int)] =
    decodeImageHeader(payload).map { case (w, h, _) => (w, h, 1) }

  /** Synthesize a real, spec-valid 24-bpp BMP (BITMAPINFOHEADER, rows
    * padded to 4 bytes, deterministic pixel bytes). Used to exercise the
    * REAL decode path end-to-end on executors without codec libraries —
    * any BMP reader can open the output.
    */
  def synthBmp(w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0)
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataSize = rowSize * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + dataSize).putInt(0).putInt(54)  // file size, reserved, data offset
      .putInt(40).putInt(w).putInt(h)              // BITMAPINFOHEADER
      .putShort(1).putShort(24)                    // planes, bpp
      .putInt(0).putInt(dataSize)                  // BI_RGB, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, palette
    (0 until dataSize).foreach(i => buf.put(((i * 31 + w * 7 + h) % 256).toByte))
    buf.array()
  }

  /** [[synthBmp]] with parameterized content: byte i of the pixel data is
    * (i·mult) mod 256, except that when noise > 0 a sparse deterministic
    * ~1% of positions ((i·2654435761 + noise) mod 101 == 0) are blown to
    * 255 — localized "sensor noise" on a shared base pattern. Two
    * payloads with the same `mult` and different `noise` are perceptual
    * near-duplicates (the aHash is robust to sparse local damage); two
    * different `mult`s decorrelate. The formula is plain integer
    * arithmetic so a SQL oracle can replay the expected pixels without
    * parsing bytes.
    */
  def synthBmpNoisy(w: Int, h: Int, mult: Int, noise: Int): Array[Byte] = {
    require(w > 0 && h > 0)
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataSize = rowSize * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + dataSize).putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h)
      .putShort(1).putShort(24)
      .putInt(0).putInt(dataSize)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    (0 until dataSize).foreach { i =>
      val v =
        if (noise > 0 && (i.toLong * 2654435761L + noise) % 101L == 0L) 255
        else (i * mult) % 256
      buf.put(v.toByte)
    }
    buf.array()
  }

  /** REAL perceptual average-hash over the payload's actual pixel bytes —
    * the pHash-family baseline (aHash): decode the 24-bpp uncompressed
    * BMP pixel array (bottom-up rows, 4-byte row padding, per the header
    * walked by [[decodeImageHeader]]'s BMP branch), block-average the
    * grayscale into an 8×8 grid, and set bit (row·8+col) when the cell
    * exceeds the global mean. INTEGER-EXACT by construction: "grayscale"
    * is the per-pixel byte sum (3× luma — a monotone rescale that cannot
    * change any threshold comparison), cells are exact integer sums
    * (dimensions must be multiples of 8 so cells are equal-sized;
    * anything else → None, like any other undecodable payload — a
    * production pipeline would resample first, which needs a codec), and
    * the threshold is the cross-multiplied 64·cell > total — no division
    * anywhere, so Spark and a SQL replay agree bit for bit.
    */
  def ahashBmp(p: Array[Byte]): Option[Long] = {
    def u8(i: Int): Int = p(i) & 0xff
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
    val dataOffset = le32(10)
    val w = le32(18)
    val hRaw = le32(22)
    val h = math.abs(hRaw)
    val bottomUp = hRaw > 0
    if (le16(28) != 24 || le32(30) != 0) return None // 24bpp BI_RGB only
    if (w <= 0 || h <= 0 || w % 8 != 0 || h % 8 != 0) return None
    val rowSize = ((w * 3 + 3) / 4) * 4
    if (dataOffset.toLong + rowSize.toLong * h > p.length) return None
    val cells = new Array[Long](64)
    var r = 0
    while (r < h) {
      val y = if (bottomUp) h - 1 - r else r
      val cy = y / (h / 8)
      val base = dataOffset + r * rowSize
      var x = 0
      while (x < w) {
        val o = base + 3 * x
        cells(cy * 8 + x / (w / 8)) += u8(o) + u8(o + 1) + u8(o + 2)
        x += 1
      }
      r += 1
    }
    val total = cells.sum
    var bits = 0L
    var c = 0
    while (c < 64) {
      if (cells(c) * 64 > total) bits |= (1L << c)
      c += 1
    }
    Some(bits)
  }

  /** Per-image perceptual hashes as a DataFrame (doc_id, phash) —
    * [[ahashBmp]] over a media Dataset in the [[extractFeatures]]
    * mapPartitions shape (decoder state would init once per partition).
    * Undecodable payloads produce NO row, never a fabricated hash (the
    * x16 contract). Stateless, so on a stream it feeds
    * [[Dedup.hashNearDupReject]] unchanged: the streaming image near-dup
    * gate, which therefore drops undecodable payloads.
    */
  def imageAHashes(media: Dataset[MediaDoc]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap(m => ahashBmp(m.payload).map(h => (m.doc_id, h)))
    }.toDF("doc_id", "phash")
  }

  /** REAL WAV (RIFF/WAVE) header decode: strict "RIFF....WAVE" magic, then
    * a chunk walk (id + le32 size, payloads padded to even offsets) to the
    * PCM `fmt ` chunk — channels le16@2, sample rate le32@4, bits le16@14
    * — and the `data` chunk, whose byte length divided by the frame size
    * gives the sample count. Returns (sampleRate, channels, bitsPerSample,
    * nSamples); None for anything malformed (non-PCM, zero-size fields,
    * truncated chunks) — those payloads produce no audio-feature row.
    */
  def decodeWavHeader(p: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3) << 24)).toLong & 0xffffffffL
    if (p.length < 44 || !(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F'
        && p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')) return None
    var i = 12L // Long cursor: a hostile 4 GiB chunk size just ends the walk
    var fmt: Option[(Int, Int, Int)] = None
    var dataBytes = -1L
    while (i + 8 <= p.length && (fmt.isEmpty || dataBytes < 0)) {
      val at = i.toInt
      val id = new String(p, at, 4, "US-ASCII")
      val size = le32(at + 4)
      if (id == "fmt " && size >= 16 && i + 8 + 16 <= p.length) {
        val audioFormat = le16(at + 8)
        val ch = le16(at + 10)
        val rate = le32(at + 12).toInt
        val bits = le16(at + 22)
        if (audioFormat != 1 || ch <= 0 || rate <= 0 || bits <= 0 || bits % 8 != 0)
          return None // non-PCM or nonsense fields
        fmt = Some((rate, ch, bits))
      } else if (id == "data")
        dataBytes = math.min(size, (p.length - i - 8)) // clamp to real bytes
      i += 8 + size + (size & 1) // chunks pad to even offsets
    }
    fmt.collect { case (rate, ch, bits) if dataBytes >= 0 =>
      (rate, ch, bits, dataBytes / (ch.toLong * (bits / 8)))
    }
  }

  /** Synthesize a spec-valid PCM WAV (RIFF + fmt + data, 16-bit,
    * deterministic sample bytes) — the audio twin of [[synthBmp]]: lets
    * the REAL decode path run end-to-end on executors without codec
    * libraries; any WAV reader can open the output.
    */
  def synthWav(nSamples: Int, sampleRate: Int, channels: Int): Array[Byte] = {
    require(nSamples > 0 && sampleRate > 0 && channels > 0)
    val frameBytes = channels * 2
    val dataSize = nSamples * frameBytes
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                             // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * frameBytes)         // byte rate
      .putShort(frameBytes.toShort)            // block align
      .putShort(16)                            // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    (0 until dataSize / 2).foreach(i =>
      buf.putShort(((i * 2531 + nSamples * 7 + channels) % 65536 - 32768).toShort))
    buf.array()
  }

  /** Synthesize a mono 16-bit PCM WAV whose waveform is a 64-segment
    * step tone: sample i holds the pseudo-random amplitude of its
    * segment (`(i/w)·mult·2654435761 mod 2^16 − 2^15`, w = nSamples/64),
    * with `noise > 0` overriding a sparse deterministic ~1% of samples
    * to full-scale 32767 — the audio twin of [[synthBmpNoisy]]: same
    * `mult` = near-identical energy envelope (perceptual near-dups the
    * fingerprint must group), different `mult` = an independent envelope.
    */
  def synthWavTone(nSamples: Int, sampleRate: Int, mult: Int,
      noise: Int): Array[Byte] = {
    require(nSamples > 0 && nSamples % 64 == 0 && sampleRate > 0 && mult > 0)
    val dataSize = nSamples * 2
    val w = nSamples / 64
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nSamples) {
      val s =
        if (noise > 0 && (i.toLong * 2654435761L + noise) % 101L == 0L) 32767
        else ((i / w).toLong * mult * 2654435761L % 65536L).toInt - 32768
      buf.putShort(s.toShort)
      i += 1
    }
    buf.array()
  }

  /** REAL PCM sample decode: [[decodeWavHeader]]'s RIFF chunk walk, but
    * yielding the `data` chunk's actual samples — 16-bit PCM only (the
    * `fmt ` chunk must declare format 1 / 16 bits), little-endian
    * sign-extended, clamped to the bytes actually present. None for
    * anything malformed — undecodable payloads produce no samples, never
    * fabricated ones (the x16 contract).
    */
  def pcmSamples(p: Array[Byte]): Option[Array[Int]] = {
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3) << 24)).toLong & 0xffffffffL
    if (p.length < 44 || !(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F'
        && p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')) return None
    var i = 12L // Long cursor: a hostile 4 GiB chunk size just ends the walk
    var pcm16 = false
    var dataAt = -1L
    var dataBytes = -1L
    while (i + 8 <= p.length && (!pcm16 || dataAt < 0)) {
      val at = i.toInt
      val id = new String(p, at, 4, "US-ASCII")
      val size = le32(at + 4)
      if (id == "fmt " && size >= 16 && i + 8 + 16 <= p.length) {
        if (le16(at + 8) != 1 || le16(at + 22) != 16) return None
        pcm16 = true
      } else if (id == "data") {
        dataAt = i + 8
        dataBytes = math.min(size, p.length - i - 8) // clamp to real bytes
      }
      i += 8 + size + (size & 1) // chunks pad to even offsets
    }
    if (!pcm16 || dataAt < 0) None
    else {
      val n = (dataBytes / 2).toInt
      val out = new Array[Int](n)
      var j = 0
      while (j < n) {
        out(j) = (le16((dataAt + 2L * j).toInt) << 16) >> 16 // sign-extend
        j += 1
      }
      Some(out)
    }
  }

  /** REAL perceptual fingerprint over the payload's actual PCM samples —
    * the audio twin of [[ahashBmp]]: decode 16-bit PCM via
    * [[pcmSamples]], sum |amplitude| over 64 equal windows (the energy
    * envelope), and set bit w when window w's energy exceeds the global
    * mean. INTEGER-EXACT: energies are exact integer sums (sample count
    * must be a multiple of 64 so windows are equal-sized; anything else
    * → None — a production pipeline would resample first, which needs a
    * codec), the threshold is the cross-multiplied 64·E > total — no
    * division anywhere, so Spark and a SQL replay agree bit for bit.
    */
  def audioAHash(p: Array[Byte]): Option[Long] =
    pcmSamples(p).filter(s => s.length > 0 && s.length % 64 == 0).map { s =>
      val w = s.length / 64
      val cells = new Array[Long](64)
      var i = 0
      while (i < s.length) { cells(i / w) += math.abs(s(i)); i += 1 }
      val tot = cells.sum
      var bits = 0L
      var c = 0
      while (c < 64) {
        if (cells(c) * 64 > tot) bits |= (1L << c)
        c += 1
      }
      bits
    }

  /** Per-clip audio fingerprints as a DataFrame (doc_id, ahash) —
    * [[audioAHash]] over a media Dataset in the [[extractFeatures]]
    * mapPartitions shape (decoder state would init once per partition).
    * Undecodable payloads produce NO row, never a fabricated hash.
    */
  def audioAHashes(media: Dataset[MediaDoc]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap(m => audioAHash(m.payload).map(h => (m.doc_id, h)))
    }.toDF("doc_id", "ahash")
  }

  /** REAL MP4 (ISO 14496-12) movie-header decode: top-level box walk
    * (be32 size + fourcc; size 0 = "to end of file", size 1 = 64-bit
    * largesize) requiring a leading `ftyp`, then inside `moov` the `mvhd`
    * box: version-0 layout puts timescale at body offset 12 and duration
    * at 16 (both be32); version-1 widens the times to 64-bit (timescale
    * stays be32 at 20, duration be64 at 24). Returns (timescale,
    * duration, durationMs); None for anything malformed.
    */
  def decodeMp4Header(p: Array[Byte]): Option[(Int, Long, Long)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Long =
      ((u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)).toLong & 0xffffffffL
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int): String = new String(p, i, 4, "US-ASCII")
    if (p.length < 16 || fourcc(4) != "ftyp") return None
    def walk(from: Long, until: Long, want: String): Option[Long] = {
      var i = from
      while (i + 8 <= until) {
        val declared = be32(i.toInt)
        val size =
          if (declared == 0) until - i // box extends to the end
          else if (declared == 1) { if (i + 16 > until) return None; be64(i.toInt + 8) }
          else declared
        if (size < 8) return None
        if (fourcc(i.toInt + 4) == want) return Some(i)
        i += size
      }
      None
    }
    for {
      moov <- walk(0, p.length.toLong, "moov")
      moovEnd = math.min(moov + be32(moov.toInt), p.length.toLong)
      mvhd <- walk(moov + 8, moovEnd, "mvhd")
      body = mvhd.toInt + 8
      if body + 4 <= p.length
      version = u8(body)
      result <- version match {
        case 0 if body + 20 <= p.length =>
          val ts = be32(body + 12); val dur = be32(body + 16)
          if (ts > 0) Some((ts.toInt, dur, dur * 1000L / ts)) else None
        case 1 if body + 32 <= p.length =>
          val ts = be32(body + 20); val dur = be64(body + 24)
          if (ts > 0) Some((ts.toInt, dur, dur * 1000L / ts)) else None
        case _ => None
      }
    } yield result
  }

  /** Synthesize a spec-valid minimal MP4: `ftyp` (isom) + `moov`
    * containing a version-0 `mvhd` with the given timescale/duration —
    * the video twin of [[synthBmp]]/[[synthWav]].
    */
  def synthMp4(timescale: Int, duration: Long): Array[Byte] = {
    require(timescale > 0 && duration >= 0 && duration <= 0xffffffffL)
    val mvhdSize = 8 + 100 // header + version-0 body (ISO 14496-12 §8.2.2)
    val moovSize = 8 + mvhdSize
    val buf = java.nio.ByteBuffer.allocate(16 + moovSize) // big-endian default
    buf.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
    buf.putInt(moovSize).put("moov".getBytes("US-ASCII"))
    buf.putInt(mvhdSize).put("mvhd".getBytes("US-ASCII"))
      .putInt(0)                  // version 0 + flags
      .putInt(0).putInt(0)        // creation/modification time
      .putInt(timescale)
      .putInt(duration.toInt)
      .putInt(0x00010000)         // rate 1.0
      .putShort(0x0100.toShort)   // volume 1.0
      .putShort(0).putInt(0).putInt(0) // reserved
    Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000) // unity matrix
      .foreach(buf.putInt)
    (1 to 6).foreach(_ => buf.putInt(0)) // pre_defined
    buf.putInt(1)                 // next_track_ID
    buf.array()
  }

  /** Video metadata from a real MP4 movie-header parse. */
  final case class VideoFeatures(doc_id: Long, timescale: Int, duration: Long,
      duration_ms: Long, n_bytes: Int)

  /** Batched per-partition video metadata extraction (MP4 twin of
    * [[extractAudioFeatures]]); non-MP4 payloads yield no row. */
  def extractVideoFeatures(media: Dataset[MediaDoc]): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        decodeMp4Header(m.payload).map { case (ts, dur, ms) =>
          VideoFeatures(m.doc_id, ts, dur, ms, m.payload.length)
        }
      }
    }
  }

  /** Audio features from a real WAV header parse. */
  final case class AudioFeatures(doc_id: Long, sample_rate: Int, n_channels: Int,
      bits_per_sample: Int, n_samples: Long, duration_ms: Long, n_bytes: Int)

  /** Batched per-partition audio metadata extraction — same iterator
    * shape as [[extractFeatures]]; non-WAV payloads yield no row (a real
    * pipeline routes them to their own decoder by media_type).
    */
  def extractAudioFeatures(media: Dataset[MediaDoc]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        decodeWavHeader(m.payload).map { case (rate, ch, bits, n) =>
          AudioFeatures(m.doc_id, rate, ch, bits, n,
            n * 1000L / rate, m.payload.length)
        }
      }
    }
  }

  /** Batched per-partition feature extraction. The iterator-in /
    * iterator-out shape means constant memory per partition regardless of
    * partition size.
    */
  def extractFeatures(media: Dataset[MediaDoc]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // decoder init would happen here, once per partition
      it.map { m =>
        val dims = decode(m.payload)
        val first = if (m.payload.isEmpty) 0 else m.payload(0) & 0xff
        MediaFeatures(m.doc_id, m.media_type, m.payload.length, first,
          dims.map(_._1), dims.map(_._2), dims.map(_._3))
      }
    }
  }

  /** Batch-shaped variant: payloads are decoded `batchSize` at a time —
    * the shape real codec/model APIs want (one native/GPU call per batch).
    * Iterator-in/iterator-out via grouped(): at most one batch is
    * materialized per partition at any moment.
    */
  def extractFeaturesBatched(media: Dataset[MediaDoc], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // a real implementation hands `batch.map(_.payload)` to the codec
        // in one call; the header parse decodes element-wise
        batch.map { m =>
          val dims = decode(m.payload)
          val first = if (m.payload.isEmpty) 0 else m.payload(0) & 0xff
          MediaFeatures(m.doc_id, m.media_type, m.payload.length, first,
            dims.map(_._1), dims.map(_._2), dims.map(_._3))
        }
      }
    }
  }

  /** End-to-end: documents → payloads → features, as a DataFrame. */
  def featuresOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    extractFeatures(attachPayload(docs).as[MediaDoc]).toDF()
  }

  /** Frame sampling: every `stride`-th frame index per video — pure
    * declarative explode over the decoded frame count (no payload copy per
    * frame; a real pipeline would pass (doc_id, frame_idx) to the decoder
    * for frame-seek extraction). Map-only at any scale. Rows whose
    * `n_frames` is null (payload never decoded) produce no frames:
    * explode of a null sequence drops the row.
    */
  def sampleFrames(features: DataFrame, stride: Int): DataFrame =
    features
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))

  /** Fixed-size payload chunking (the audio-segmentation shape): each blob
    * becomes ceil(len/chunkBytes) rows carrying its own slice — constant
    * memory per row, downstream batches see bounded payloads.
    */
  def chunkPayload(media: Dataset[MediaDoc], chunkBytes: Int): Dataset[MediaChunk] = {
    import media.sparkSession.implicits._
    require(chunkBytes > 0)
    media.flatMap { m =>
      if (m.payload.isEmpty) Iterator(MediaChunk(m.doc_id, 0, Array.emptyByteArray))
      else m.payload.grouped(chunkBytes).zipWithIndex.map {
        case (c, i) => MediaChunk(m.doc_id, i, c)
      }
    }
  }

  /** REAL pixel resize for 24-bpp BI_RGB bottom-up BMPs: nearest-neighbor
    * resample of the pixel grid, re-emitting a spec-valid BMP at
    * (targetW, targetH) — the same container [[synthBmp]] writes, so the
    * synth → resize → decode loop runs on real pixels end to end.
    * Returns None (→ passthrough in [[resizeAll]]) for anything that is
    * not a plain uncompressed 24-bpp BITMAPINFOHEADER bottom-up BMP with
    * in-bounds pixel data: paletted/compressed/top-down variants and
    * non-BMP formats need a codec library this container doesn't ship,
    * so they are left untouched rather than mangled.
    */
  def resizeBmp(p: Array[Byte], targetW: Int, targetH: Int): Option[Array[Byte]] = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
    if (le32(14) != 40) return None                        // BITMAPINFOHEADER only
    val w = le32(18); val h = le32(22)
    if (w <= 0 || h <= 0) return None                      // reject top-down/degenerate
    if (le16(26) != 1 || le16(28) != 24 || le32(30) != 0) return None
    val off = le32(10)
    val rowIn = ((w * 3 + 3) / 4) * 4
    if (off < 54 || off.toLong + rowIn.toLong * h > p.length) return None
    val rowOut = ((targetW * 3 + 3) / 4) * 4
    val buf = java.nio.ByteBuffer.allocate(54 + rowOut * targetH)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + rowOut * targetH).putInt(0).putInt(54)
      .putInt(40).putInt(targetW).putInt(targetH)
      .putShort(1).putShort(24)
      .putInt(0).putInt(rowOut * targetH)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    val out = buf.array()
    var y = 0
    while (y < targetH) {
      val sy = (y.toLong * h / targetH).toInt
      var x = 0
      while (x < targetW) {
        val sx = (x.toLong * w / targetW).toInt
        val si = off + sy * rowIn + sx * 3
        val di = 54 + y * rowOut + x * 3
        out(di) = p(si); out(di + 1) = p(si + 1); out(di + 2) = p(si + 2)
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** Batched resize over a media dataset — same iterator-in/iterator-out
    * shape as extractFeaturesBatched. BMP payloads get the REAL pixel
    * resample ([[resizeBmp]]); payloads this environment cannot decode
    * pass through UNCHANGED (no fabricated bytes — plug a codec call in
    * here for other formats). */
  def resizeAll(media: Dataset[MediaDoc], targetW: Int, targetH: Int): Dataset[MediaDoc] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m =>
      m.copy(payload = resizeBmp(m.payload, targetW, targetH)
        .getOrElse(m.payload))))
  }
}
