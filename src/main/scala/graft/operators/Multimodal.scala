package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: image/audio/video as opaque `binary` payload
  * columns with typed metadata, processed by a partition-wise decoder.
  *
  * The container path is REAL: payloads are structurally valid PNG / APNG /
  * JPEG / MJPEG containers (genuine signatures, big-endian IHDR / SOF0
  * dimension fields, CRC-32-checked chunks, zlib-deflated frame data,
  * 64 KiB-segmented JPEG comment blocks, APNG `acTL`/`fcTL`/`fdAT` frame
  * structure with strict sequence numbers), and [[ImageHeaders.decode]]
  * parses them the way any ingest pipeline must — magic-byte dispatch,
  * chunk walk, marker walk, CRC verification, inflate, frame-sequence
  * validation — in pure JVM (public container formats; no codec library
  * needed for structure). Frame COUNTS and offsets are derived by COUNTING
  * parsed frame structures, never synthesized. What stays stubbed,
  * honestly: PIXEL/entropy decoding (the frame data carried inside the
  * containers is document text, not renderable bitmaps — the container has
  * no media codecs).
  *
  * Scale: encode and decode are narrow maps — no shuffle; payload bytes
  * never cross the network. Partition sizing
  * (`spark.sql.files.maxPartitionBytes`) is the only knob that matters at
  * 100 TB of media.
  */
object Multimodal {

  case class Payload(doc_id: Long, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, format: String, width: Long, height: Long,
      payload_bytes: Long, n_frames: Long, checksum_prefix: String)

  /** Splits a payload into `k` contiguous frame slices: frames 0..k−2 are
    * ⌊n/k⌋ bytes, the last takes the remainder — so frame i starts at byte
    * i·⌊n/k⌋, the arithmetic the DuckDB oracles mirror. */
  private[operators] def frameSlices(payload: Array[Byte], k: Int): IndexedSeq[Array[Byte]] = {
    val n = payload.length
    val step = n / k
    (0 until k).map { i =>
      val end = if (i == k - 1) n else (i + 1) * step
      java.util.Arrays.copyOfRange(payload, i * step, end)
    }
  }

  /** Pure-JVM builders and parsers for the PNG/APNG and JPEG/MJPEG
    * containers (public formats: PNG per RFC 2083 / ISO 15948, APNG per the
    * PNG specification third edition, JPEG per ITU T.81, MJPEG as the
    * conventional concatenation of complete JPEG images). Builders produce
    * structurally valid files; [[decode]] trusts NOTHING it didn't parse —
    * it dispatches on the signature, walks the container, verifies PNG
    * chunk CRCs and APNG sequence numbers, checks the parsed frame count
    * against the `acTL` declaration, and recovers dimensions, per-frame
    * sizes and the embedded payload bytes, so a corrupted container
    * (including a truncated or missing FRAME) comes back `None` instead of
    * garbage fields. */
  object ImageHeaders {
    val PngSignature: Array[Byte] =
      Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    private def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    private def readBe32(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
        ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
    private def readBe16(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)

    private def crc32(parts: Array[Byte]*): Int = {
      val c = new java.util.zip.CRC32
      parts.foreach(c.update)
      c.getValue.toInt
    }

    private def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
      val t = ctype.getBytes("US-ASCII")
      be32(data.length) ++ t ++ data ++ be32(crc32(t, data))
    }

    private def deflateBytes(payload: Array[Byte]): Array[Byte] = {
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(payload)
      deflater.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!deflater.finished()) buf.write(tmp, 0, deflater.deflate(tmp))
      deflater.end()
      buf.toByteArray
    }

    /** `None` when `data` is not one complete zlib stream (truncated or
      * corrupt) — a frame whose fdAT chunks went missing fails here. */
    private def inflateBytes(data: Array[Byte]): Option[Array[Byte]] = {
      val inflater = new java.util.zip.Inflater()
      inflater.setInput(data)
      val out = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      try {
        while (!inflater.finished()) {
          val n = inflater.inflate(tmp)
          if (n == 0 && inflater.needsInput()) return None // truncated stream
          out.write(tmp, 0, n)
        }
        Some(out.toByteArray)
      } catch { case _: java.util.zip.DataFormatException => None }
      finally inflater.end()
    }

    /** Minimal valid PNG: signature, IHDR (true big-endian dims, 8-bit
      * RGBA), one IDAT holding the zlib-DEFLATED payload, IEND. Every chunk
      * carries its real CRC-32. */
    def png(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      PngSignature ++ chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 6, 0, 0, 0)) ++
        chunk("IDAT", deflateBytes(payload)) ++ chunk("IEND", Array.emptyByteArray)

    /** ANIMATED PNG (APNG, PNG spec third edition): `acTL` declares the
      * frame count; every frame gets an `fcTL` control chunk, frame 0's
      * data rides in IDAT and later frames in `fdAT` chunks, with ONE
      * strictly-increasing sequence-number line threaded through all
      * fcTL+fdAT chunks — exactly the structure the decoder validates.
      * Each frame's data is its own complete zlib stream. */
    def apng(frames: IndexedSeq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
      require(frames.nonEmpty, "an APNG needs at least one frame")
      val out = new java.io.ByteArrayOutputStream()
      var seq = 0
      def nextSeq(): Int = { val s = seq; seq += 1; s }
      out.write(PngSignature)
      out.write(chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 6, 0, 0, 0)))
      out.write(chunk("acTL", be32(frames.size) ++ be32(0))) // num_frames, loop forever
      frames.zipWithIndex.foreach { case (f, idx) =>
        // fcTL: seq, dims, offsets, delay 1/100 s, dispose none, blend source
        out.write(chunk("fcTL", be32(nextSeq()) ++ be32(w) ++ be32(h) ++
          be32(0) ++ be32(0) ++ Array[Byte](0, 1, 0, 100, 0, 0)))
        val z = deflateBytes(f)
        if (idx == 0) out.write(chunk("IDAT", z))
        else out.write(chunk("fdAT", be32(nextSeq()) ++ z))
      }
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }

    /** Minimal valid JPEG: SOI, JFIF APP0, SOF0 (baseline; true big-endian
      * height then width, 3 components), the payload carried as ≤ 64 KiB
      * COM segments (the JPEG metadata channel — segment lengths are
      * 16-bit, so large payloads split), EOI. */
    def jpeg(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def seg(marker: Int, data: Array[Byte]): Unit = {
        out.write(0xFF); out.write(marker)
        out.write(((data.length + 2) >> 8) & 0xFF); out.write((data.length + 2) & 0xFF)
        out.write(data)
      }
      out.write(0xFF); out.write(0xD8) // SOI
      seg(0xE0, "JFIF\u0000".getBytes("US-ASCII") ++ Array[Byte](1, 1, 0, 0, 1, 0, 1, 0, 0))
      // SOF0: precision 8, height, width, 3 components (YCbCr, no subsampling)
      seg(0xC0, Array[Byte](8,
        ((h >> 8) & 0xFF).toByte, (h & 0xFF).toByte,
        ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte,
        3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1))
      payload.grouped(65533).foreach(p => seg(0xFE, p)) // COM segments
      out.write(0xFF); out.write(0xD9) // EOI
      out.toByteArray
    }

    /** MJPEG: the conventional motion-JPEG container is nothing more than
      * complete JPEG images back to back, one per frame — which is why the
      * decoder's frame counter is "walk images until the buffer ends". */
    def mjpeg(frames: IndexedSeq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
      require(frames.nonEmpty, "an MJPEG stream needs at least one frame")
      frames.map(jpeg(_, w, h)).reduce(_ ++ _)
    }

    /** `payload` is the concatenation of all parsed frame payloads (frame
      * order); `frameSizes` are the parsed per-frame payload sizes, so
      * `frameSizes.size` IS the parsed frame count and offsets are its
      * prefix sums. Single-image containers decode as one frame. */
    case class Decoded(format: String, width: Int, height: Int, payload: Array[Byte],
        frameSizes: IndexedSeq[Int]) {
      def nFrames: Int = frameSizes.size
    }

    /** Marker values that are a start-of-frame carrying dimensions (SOF0-15
      * minus the non-frame DHT/JPG/DAC slots). */
    private def isSof(m: Int): Boolean =
      m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC

    private def decodePng(b: Array[Byte]): Option[Decoded] = {
      if (b.length < 33 || !b.take(8).sameElements(PngSignature)) return None
      var w = -1; var h = -1
      var declaredFrames = -1 // from acTL; -1 = plain (non-animated) PNG
      var nextSeq = 0 // the one APNG sequence line across fcTL + fdAT
      val frames = scala.collection.mutable.ArrayBuffer.empty[java.io.ByteArrayOutputStream]
      var i = 8
      while (i + 12 <= b.length) {
        val len = readBe32(b, i)
        if (len < 0 || i + 12 + len > b.length) return None
        val ctype = new String(b, i + 4, 4, "US-ASCII")
        val body = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len)
        if (readBe32(b, i + 8 + len) != crc32(ctype.getBytes("US-ASCII"), body))
          return None // corrupted chunk
        ctype match {
          case "IHDR" if len >= 8 => w = readBe32(body, 0); h = readBe32(body, 4)
          case "acTL" =>
            if (len < 8) return None
            declaredFrames = readBe32(body, 0)
            if (declaredFrames <= 0) return None
          case "fcTL" =>
            if (len < 26) return None
            if (readBe32(body, 0) != nextSeq) return None // sequence gap/reorder
            nextSeq += 1
            frames += new java.io.ByteArrayOutputStream()
          case "IDAT" =>
            // Plain PNG: all IDATs are one stream, one implicit frame.
            // APNG: IDAT is frame 0's data (fcTL already opened it; IDAT
            // carries no sequence number).
            if (frames.isEmpty) frames += new java.io.ByteArrayOutputStream()
            frames.last.write(body)
          case "fdAT" =>
            if (len < 4 || frames.isEmpty) return None
            if (readBe32(body, 0) != nextSeq) return None
            nextSeq += 1
            frames.last.write(body, 4, len - 4)
          case "IEND" =>
            if (w < 0 || frames.isEmpty) return None
            // An APNG whose parsed frame count disagrees with its acTL
            // declaration lost (or grew) frames: corrupt.
            if (declaredFrames >= 0 && frames.size != declaredFrames) return None
            val inflated = frames.map(f => inflateBytes(f.toByteArray) match {
              case Some(x) => x
              case None => return None // a frame's stream is truncated
            })
            val out = new java.io.ByteArrayOutputStream()
            inflated.foreach(out.write)
            return Some(Decoded("png", w, h, out.toByteArray,
              inflated.map(_.length).toIndexedSeq))
          case _ => // ancillary chunk: skip
        }
        i += 12 + len
      }
      None // no IEND
    }

    /** Parses ONE JPEG image whose SOI starts at `start`; returns
      * (width, height, COM payload, end index just past EOI). An image that
      * ends in an SOS entropy stream (which this parser cannot measure)
      * consumes the rest of the buffer. */
    private def parseOneJpeg(b: Array[Byte], start: Int): Option[(Int, Int, Array[Byte], Int)] = {
      if (start + 2 > b.length ||
        (b(start) & 0xFF) != 0xFF || (b(start + 1) & 0xFF) != 0xD8) return None
      var w = -1; var h = -1
      val data = new java.io.ByteArrayOutputStream()
      var i = start + 2
      while (i + 1 < b.length) {
        // ITU T.81 §B.1.1.2: any number of 0xFF FILL bytes may pad before a
        // marker — skip them instead of calling legal padding corruption.
        while (i + 1 < b.length && (b(i) & 0xFF) == 0xFF && (b(i + 1) & 0xFF) == 0xFF)
          i += 1
        if ((b(i) & 0xFF) != 0xFF) return None // lost marker sync
        val marker = b(i + 1) & 0xFF
        if (marker == 0xD9) // EOI
          return if (w >= 0) Some((w, h, data.toByteArray, i + 2)) else None
        else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) i += 2 // standalone
        else {
          if (i + 4 > b.length) return None
          val len = readBe16(b, i + 2)
          if (len < 2 || i + 2 + len > b.length) return None
          if (isSof(marker)) {
            if (len < 7) return None
            h = readBe16(b, i + 5); w = readBe16(b, i + 7)
          } else if (marker == 0xFE) // COM: the payload channel
            data.write(b, i + 4, len - 2)
          else if (marker == 0xDA) // SOS: entropy data follows, not measurable
            return if (w >= 0) Some((w, h, data.toByteArray, b.length)) else None
          i += 2 + len
        }
      }
      None // ran out of bytes before EOI: truncated image
    }

    /** JPEG / MJPEG: walks complete images back to back until the buffer is
      * exhausted — the image count IS the frame count. Dimensions come from
      * the first frame; any unparseable frame (including a truncated tail
      * image) fails the whole container. */
    private def decodeJpeg(b: Array[Byte]): Option[Decoded] = {
      var i = 0
      var w = -1; var h = -1
      val sizes = IndexedSeq.newBuilder[Int]
      val out = new java.io.ByteArrayOutputStream()
      var n = 0
      while (i < b.length) {
        parseOneJpeg(b, i) match {
          case Some((fw, fh, payload, end)) =>
            if (n == 0) { w = fw; h = fh }
            sizes += payload.length
            out.write(payload)
            n += 1
            i = end
          case None => return None
        }
      }
      if (n == 0) None else Some(Decoded("jpeg", w, h, out.toByteArray, sizes.result()))
    }

    /** Magic-byte dispatch → full container parse. `None` for anything that
      * is not a well-formed PNG/APNG/JPEG/MJPEG (bad signature, truncation,
      * CRC mismatch, missing IHDR/SOF, frame-sequence gap, frame-count
      * mismatch vs acTL). */
    def decode(b: Array[Byte]): Option[Decoded] =
      if (b.length >= 8 && b.take(8).sameElements(PngSignature)) decodePng(b)
      else if (b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) decodeJpeg(b)
      else None
  }

  /** Partition-wise media decoder: Iterator-to-Iterator, one digest
    * instance per partition (the same shape a native-codec decoder needs
    * for its context). Dimensions, payload and FRAME COUNT come from
    * PARSING the container ([[ImageHeaders.decode]] — `n_frames` is the
    * number of parsed frame structures, not a formula); a malformed payload
    * degrades to an explicit `unknown` row rather than failing the pipeline
    * (at 100 TB some fraction of scraped media is always corrupt). */
  object MediaDecoder {
    def decode(rows: Iterator[Payload]): Iterator[MediaFeatures] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(bs: Array[Byte]): String = bs.map("%02x".format(_)).mkString
      rows.map { p =>
        ImageHeaders.decode(p.payload) match {
          case Some(d) =>
            md.reset()
            MediaFeatures(p.doc_id, d.format, d.width.toLong, d.height.toLong,
              d.payload.length.toLong, d.nFrames.toLong,
              hex(md.digest(d.payload)).substring(0, 8))
          case None =>
            md.reset()
            MediaFeatures(p.doc_id, "unknown", 0L, 0L, p.payload.length.toLong,
              0L, hex(md.digest(p.payload)).substring(0, 8))
        }
      }
    }
  }

  /** Builds the multi-frame container for a document payload: the text
    * bytes split into `1 + n % 16` frame slices (the count the oracle can
    * recompute arithmetically), wrapped as APNG for even doc_ids and MJPEG
    * for odd — so both frame walks run over the corpus. */
  private def buildContainer(docId: Long, payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    val w = 64 + n % 512
    val h = 64 + (n / 7) % 512
    val slices = frameSlices(payload, 1 + n % 16)
    if (docId % 2 == 0) ImageHeaders.apng(slices, w, h)
    else ImageHeaders.mjpeg(slices, w, h)
  }

  /** Binary-column pipeline end-to-end: wrap each document's text bytes in
    * a REAL multi-frame image container (even doc_ids → APNG, odd → MJPEG,
    * so both parsers run), then recover format, dimensions, payload size,
    * FRAME COUNT and checksum by PARSING the container in a partition-wise
    * decoder. The oracle recomputes the expected values from the text —
    * equality proves the encode → binary container → decode round trip is
    * byte-exact (the dimension fields really traverse big-endian container
    * headers, the payload really survives per-frame deflate/inflate and
    * COM segmentation, and the frame count really comes from walking
    * fcTL/fdAT chunks and SOI…EOI images, since a walk that loses a frame
    * changes `n_frames` AND the reassembled checksum). */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val payloads: Dataset[Payload] = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[Payload]
      .mapPartitions(_.map(p => Payload(p.doc_id, buildContainer(p.doc_id, p.payload))))
    payloads.mapPartitions(MediaDecoder.decode).toDF()
  }

  /** The oracle recomputes every field from the document text: dims and
    * frame count from the same arithmetic the encoder wrote INTO the
    * container structure (so a decode that misreads endianness/offsets or
    * drops a frame hash-mismatches), checksum/size from the text bytes the
    * decoder must recover out of the per-frame streams. */
  val mediaFeaturesSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |  64 + CAST(octet_length(encode(text)) AS BIGINT) % 512 AS width,
      |  64 + (CAST(octet_length(encode(text)) AS BIGINT) // 7) % 512 AS height,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
      |  1 + CAST(octet_length(encode(text)) AS BIGINT) % 16 AS n_frames,
      |  substr(md5(text), 1, 8) AS checksum_prefix
      |FROM documents""".stripMargin

  case class FrameRow(doc_id: Long, frame_idx: Long, frame_offset: Long, frame_hash: String)

  /** Frame sampling for video-style payloads: each document is wrapped in
    * the same multi-frame container as [[mediaFeatures]] and the sampler
    * emits one row per frame the DECODER PARSED out of it — frame offsets
    * are prefix sums of the parsed frame sizes and the per-frame hash is
    * derived from the checksum of the REASSEMBLED payload, so a frame walk
    * that drops, merges or misorders frames changes the row set. The shape
    * is the real thing — an Iterator-to-Iterator flatMap over binary
    * payloads, rows exploding within the partition (no shuffle, no driver
    * involvement), exactly how a keyframe sampler runs at 100 TB. A
    * container that fails to parse contributes no rows (corrupt media is
    * dropped, the ingest-pipeline policy). */
  def frameSamples(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val payloads: Dataset[Payload] = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[Payload]
    payloads.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
      rows.flatMap { p =>
        ImageHeaders.decode(buildContainer(p.doc_id, p.payload)) match {
          case Some(d) =>
            md.reset()
            val payloadHash = hex(md.digest(d.payload))
            var off = 0L
            d.frameSizes.zipWithIndex.iterator.map { case (sz, i) =>
              val o = off
              off += sz
              md.reset()
              FrameRow(p.doc_id, i.toLong, o,
                hex(md.digest(s"$payloadHash:$i".getBytes("UTF-8"))))
            }
          case None => Iterator.empty
        }
      }
    }.toDF()
  }

  val frameSamplesSql: String =
    """WITH p AS (
      |  SELECT doc_id, md5(text) AS payload_hash,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents)
      |SELECT doc_id, i AS frame_idx,
      |  i * (n // (1 + n % 16)) AS frame_offset,
      |  md5(payload_hash || ':' || CAST(i AS VARCHAR)) AS frame_hash
      |FROM p, LATERAL (SELECT unnest(generate_series(0, 1 + n % 16 - 1)) AS i) g""".stripMargin

  case class FrameHashRow(doc_id: Long, frame_hash: Long)

  /** FRAME-level CONTENT dedup across multimodal containers — the
    * video-dedup shape an LLM data pipeline runs over scraped media: hash
    * every frame the decoder PARSED out of each container, then find frame
    * contents that recur (within a video or across videos) by a plain
    * hash-keyed aggregation. This links the multimodal frame walk to the
    * dedup family: candidates come from grouping identical 56-bit content
    * hashes — the degenerate (exact-match) band of the banded-dedup
    * machinery — never from pairwise comparison, so the plan is one
    * map-side-combined shuffle on `frame_hash` with NO join at all; output
    * is bounded by the number of actually-duplicated frame contents.
    *
    * Hash portability (the cross-engine contract): the frame's bytes are
    * UPPERCASE-hex-encoded and md5'd AS THAT ASCII STRING, because DuckDB's
    * md5 only accepts VARCHAR and its `hex(encode(text))` produces exactly
    * the same uppercase encoding of the same bytes — so the oracle can
    * re-derive each frame's hash from the text via the slice arithmetic the
    * container builder used, byte-exact even for multi-byte UTF-8 (the
    * slices split raw bytes, which only a byte-level encoding survives).
    * The 56-bit int64 form is the repo-wide portable-hash idiom
    * (Dedup.scala's `conv(md5…,16,10)` note). A container that fails to
    * parse contributes no frames (corrupt media drops, as in
    * [[frameSamples]]). */
  def frameDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val payloads: Dataset[Payload] = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[Payload]
    val frameHashes = payloads.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexU = "0123456789ABCDEF".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      // Uppercase ASCII hex of bs[off, off + n): the bytes md5 sees.
      def hexUpper(bs: Array[Byte], off: Int, n: Int): Array[Byte] = {
        val out = new Array[Byte](2 * n)
        var i = 0
        while (i < n) {
          val b = bs(off + i)
          out(2 * i) = hexU((b >> 4) & 0xF)
          out(2 * i + 1) = hexU(b & 0xF)
          i += 1
        }
        out
      }
      rows.flatMap { p =>
        ImageHeaders.decode(buildContainer(p.doc_id, p.payload)) match {
          case Some(d) =>
            var off = 0
            d.frameSizes.iterator.map { sz =>
              val hex = hexUpper(d.payload, off, sz)
              off += sz
              FrameHashRow(p.doc_id, Hashing.top56(md.digest(hex)))
            }
          case None => Iterator.empty
        }
      }
    }.toDF()
    frameHashes.groupBy(col("frame_hash"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc"))
      .filter(col("n_frames") > 1)
  }

  case class FrameStatRow(doc_id: Long, frame_idx: Long, n_bytes: Long,
      byte_sum: Option[Long], byte_min: Option[Long], byte_max: Option[Long])

  /** Per-frame FEATURE EXTRACTION over decoded multimodal containers — the
    * step between the frame walk ([[frameSamples]]) and anything learned
    * downstream: every frame the parser recovered yields byte-level
    * statistics (length, sum, min, max — the honest features computable
    * without a pixel codec; a real pipeline swaps the stat kernel for its
    * embedding model, the plumbing is identical). Pure narrow map: decode
    * + stats run inside the scan partition, payload bytes never cross the
    * network, NO shuffle at all — at 100 TB the only knob is
    * `files.maxPartitionBytes`. Zero-length frames (containers whose
    * payload is shorter than the frame count) report NULL stats, matching
    * DuckDB's empty-list aggregates. The oracle re-derives each frame's
    * bytes from the text via the container builder's slice arithmetic on
    * the hex encoding — the [[frameDedupSql]] contract — and recomputes
    * the same integers per hex pair. */
  def frameStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val payloads: Dataset[Payload] = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[Payload]
    payloads.mapPartitions { rows =>
      rows.flatMap { p =>
        ImageHeaders.decode(buildContainer(p.doc_id, p.payload)) match {
          case Some(d) =>
            var off = 0
            d.frameSizes.iterator.zipWithIndex.map { case (sz, i) =>
              val slice = java.util.Arrays.copyOfRange(d.payload, off, off + sz)
              off += sz
              if (sz == 0) FrameStatRow(p.doc_id, i.toLong, 0L, None, None, None)
              else {
                var s = 0L; var mn = 255L; var mx = 0L
                slice.foreach { b =>
                  val v = (b & 0xFF).toLong
                  s += v; if (v < mn) mn = v; if (v > mx) mx = v
                }
                FrameStatRow(p.doc_id, i.toLong, sz.toLong, Some(s), Some(mn), Some(mx))
              }
            }
          case None => Iterator.empty
        }
      }
    }.toDF()
  }

  val frameStatsSql: String =
    """WITH p AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
      |    substring(hx, 1 + 2 * i * (n // (1 + n % 16)),
      |      2 * CASE WHEN i = n % 16 THEN n - i * (n // (1 + n % 16))
      |               ELSE n // (1 + n % 16) END) AS fh
      |  FROM p, LATERAL (SELECT unnest(generate_series(0, n % 16)) AS i) g)
      |SELECT doc_id, frame_idx,
      |  CAST(length(fh) // 2 AS BIGINT) AS n_bytes,
      |  CAST(list_sum(list_transform(range(0, length(fh) // 2),
      |    j -> ('0x' || substr(fh, 1 + 2 * j, 2))::BIGINT)) AS BIGINT) AS byte_sum,
      |  CAST(list_min(list_transform(range(0, length(fh) // 2),
      |    j -> ('0x' || substr(fh, 1 + 2 * j, 2))::BIGINT)) AS BIGINT) AS byte_min,
      |  CAST(list_max(list_transform(range(0, length(fh) // 2),
      |    j -> ('0x' || substr(fh, 1 + 2 * j, 2))::BIGINT)) AS BIGINT) AS byte_max
      |FROM f""".stripMargin

  /** The oracle re-derives every frame hash from the text alone: the same
    * byte-slice arithmetic the builder wrote into the container (step =
    * n div k, last frame takes the remainder), sliced on the uppercase-hex
    * encoding (2 hex chars per byte) since DuckDB's md5 is VARCHAR-only. */
  val frameDedupSql: String =
    """WITH p AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(substring(hx, 1 + 2 * i * (n // (1 + n % 16)),
      |      2 * CASE WHEN i = n % 16 THEN n - i * (n // (1 + n % 16))
      |               ELSE n // (1 + n % 16) END)), 1, 14))::BIGINT AS frame_hash
      |  FROM p, LATERAL (SELECT unnest(generate_series(0, n % 16)) AS i) g)
      |SELECT frame_hash, CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  min(doc_id) AS keep_doc
      |FROM f GROUP BY 1 HAVING count(*) > 1""".stripMargin

  /** Keyframe mean-shift threshold: a frame is a keyframe when its mean
    * byte value moves ≥ this many /255 steps vs the previous frame. */
  val KeyframeMeanDelta = 8L

  /** KEYFRAME SELECTION over parsed containers — the frame-SAMPLING step of
    * a video ingest pipeline (train on scene changes, skip near-static
    * runs): frame i is a keyframe iff it opens the container or its byte-
    * level mean shifts ≥ [[KeyframeMeanDelta]]/255 vs frame i−1 — the
    * honest shot-boundary proxy without a pixel codec (a real pipeline
    * swaps in a histogram/embedding distance; the plumbing — parse, order,
    * lag-compare, flag — is identical). The mean compare is
    * CROSS-MULTIPLIED (|sum_i·n_{i−1} − sum_{i−1}·n_i| ≥ δ·n_i·n_{i−1}),
    * so no engine divides; products stay in int64 for frames up to
    * ~190 MB (255·n·m ≤ 2^63). Zero-length frames (and successors of
    * them) count as keyframes — a size collapse IS a scene event.
    *
    * Shape: the shuffle-free [[frameStats]] map feeds ONE doc-keyed lag
    * window — the only exchange, keyed by container, same cardinality as
    * the frame stream. */
  def keyframes(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frameStats(spark, sfDir)
      .withColumn("prev_n", lag(col("n_bytes"), 1).over(w))
      .withColumn("prev_sum", lag(col("byte_sum"), 1).over(w))
      .withColumn("is_keyframe",
        when(col("prev_n").isNull, 1L)
          .when(col("n_bytes") === 0 || col("prev_n") === 0, 1L)
          .when(abs(col("byte_sum") * col("prev_n") - col("prev_sum") * col("n_bytes"))
            >= lit(KeyframeMeanDelta) * col("n_bytes") * col("prev_n"), 1L)
          .otherwise(0L))
      .select(col("doc_id"), col("frame_idx"), col("n_bytes"), col("is_keyframe"))
  }

  /** DuckDB twin — wraps the frame-stats derivation in a lag window with
    * the same cross-multiplied rule. */
  val keyframesSql: String =
    s"""WITH fs AS ($frameStatsSql)
       |SELECT doc_id, frame_idx, n_bytes,
       |  CAST(CASE WHEN prev_n IS NULL THEN 1
       |    WHEN n_bytes = 0 OR prev_n = 0 THEN 1
       |    WHEN abs(byte_sum * prev_n - prev_sum * n_bytes)
       |      >= $KeyframeMeanDelta * n_bytes * prev_n THEN 1
       |    ELSE 0 END AS BIGINT) AS is_keyframe
       |FROM (SELECT doc_id, frame_idx, n_bytes, byte_sum,
       |    lag(n_bytes) OVER w AS prev_n, lag(byte_sum) OVER w AS prev_sum
       |  FROM fs WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))""".stripMargin

  /** Pure-JVM builder and parser for RIFF/WAVE containers (public format:
    * the Microsoft/IBM RIFF specification; canonical PCM WAVE layout) —
    * the AUDIO modality beside the PNG/JPEG image path, same honesty
    * contract: the container structure (RIFF size bookkeeping, chunk walk,
    * word-aligned chunk padding, `fmt ` field consistency, `data` bounds)
    * is REAL and strictly verified; the "signal" inside is document bytes
    * mapped to 16-bit PCM samples, not recorded audio. */
  object WavAudio {
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    private def le32(v: Int): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    private def rdLe16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
    private def rdLe32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xFFL)) | ((b(i + 1) & 0xFFL) << 8) |
        ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)

    /** Mono 16-bit PCM WAVE: one sample per payload byte,
      * `sample = (byte − 128) · 256` (the centered 8→16-bit widening), at
      * the given rate. Canonical 44-byte header + `data`. */
    def build(payload: Array[Byte], sampleRate: Int): Array[Byte] = {
      val dataSize = payload.length * 2
      val out = new java.io.ByteArrayOutputStream(44 + dataSize)
      out.write("RIFF".getBytes("US-ASCII")); out.write(le32(36 + dataSize))
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); out.write(le32(16))
      out.write(le16(1))                 // PCM
      out.write(le16(1))                 // mono
      out.write(le32(sampleRate))
      out.write(le32(sampleRate * 2))    // byte rate
      out.write(le16(2))                 // block align
      out.write(le16(16))                // bits per sample
      out.write("data".getBytes("US-ASCII")); out.write(le32(dataSize))
      payload.foreach { b =>
        val s = ((b & 0xFF) - 128) * 256
        out.write(le16(s & 0xFFFF))
      }
      out.toByteArray
    }

    case class DecodedWav(sampleRate: Long, nSamples: Long, peak: Long,
        energy: Long, zeroCrossings: Long)

    /** Strict RIFF walk: verifies the signature, the RIFF size against the
      * physical length, word-aligned chunk advancement, exactly one
      * consistent PCM `fmt ` (mono / 16-bit / byteRate = rate·2 /
      * blockAlign = 2) and exactly one in-bounds even-sized `data`; then
      * reads the little-endian signed samples and derives peak |s|,
      * energy Σs² and strict sign-change zero crossings — all int64.
      * Anything structurally off → None. */
    def decode(b: Array[Byte]): Option[DecodedWav] = {
      if (b.length < 12) return None
      if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')) return None
      if (rdLe32(b, 4) != b.length - 8) return None
      if (!(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
      var i = 12
      var rate = -1L
      var dataOff = -1; var dataLen = -1
      while (i + 8 <= b.length) {
        val id = new String(b, i, 4, "US-ASCII")
        val size = rdLe32(b, i + 4)
        if (size < 0 || i + 8 + size > b.length) return None
        id match {
          case "fmt " =>
            if (rate >= 0 || size < 16) return None
            if (rdLe16(b, i + 8) != 1 || rdLe16(b, i + 10) != 1) return None
            val r = rdLe32(b, i + 12)
            if (rdLe32(b, i + 16) != r * 2) return None
            if (rdLe16(b, i + 20) != 2 || rdLe16(b, i + 22) != 16) return None
            if (r <= 0) return None
            rate = r
          case "data" =>
            if (dataOff >= 0 || size % 2 != 0) return None
            dataOff = i + 8; dataLen = size.toInt
          case _ => // unknown chunks are legal RIFF; skipped, bounds-checked
        }
        i += 8 + size.toInt + (size.toInt % 2) // chunks are word-aligned
      }
      if (i != b.length || rate < 0 || dataOff < 0) return None
      val n = dataLen / 2
      var peak = 0L; var energy = 0L; var crossings = 0L; var prev = 0L
      var j = 0
      while (j < n) {
        val s = rdLe16(b, dataOff + 2 * j).toShort.toLong
        val a = math.abs(s)
        if (a > peak) peak = a
        energy += s * s
        if (j > 0 && prev * s < 0) crossings += 1
        prev = s
        j += 1
      }
      Some(DecodedWav(rate, n.toLong, peak, energy, crossings))
    }
  }

  case class AudioFeatures(doc_id: Long, sample_rate: Long, n_samples: Long,
      duration_ms: Long, peak: Long, energy: Long, zero_crossings: Long)

  /** Audio-column pipeline end-to-end: wrap each document's bytes as a
    * REAL mono 16-bit PCM RIFF/WAVE container (per-doc sample rate
    * `8000 + (doc_id mod 3)·4000`, so the rate genuinely traverses the
    * `fmt ` chunk — a decoder that misreads it shifts every duration),
    * then recover rate, sample count, duration and integer signal stats
    * (peak, energy, zero crossings) by PARSING the container in a
    * partition-wise decoder — a narrow map, no shuffle, payload bytes
    * never cross the network, the same 100 TB shape as the image path.
    * The oracle recomputes everything from the text bytes; equality
    * proves the PCM samples byte-exactly survived the encode → container
    * → strict-walk decode round trip. A malformed container degrades to
    * an explicit zeroed row (corrupt scraped media must not fail the
    * pipeline). */
  def audioFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val payloads: Dataset[Payload] = Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[Payload]
      .mapPartitions(_.map(p => Payload(p.doc_id,
        WavAudio.build(p.payload, (8000 + (p.doc_id % 3) * 4000).toInt))))
    payloads.mapPartitions(_.map { p =>
      WavAudio.decode(p.payload) match {
        case Some(d) =>
          AudioFeatures(p.doc_id, d.sampleRate, d.nSamples,
            d.nSamples * 1000L / d.sampleRate, d.peak, d.energy, d.zeroCrossings)
        case None => AudioFeatures(p.doc_id, 0L, 0L, 0L, 0L, 0L, 0L)
      }
    }).toDF()
  }

  /** The oracle re-derives the signal stats straight from the text bytes
    * (hex walk, 1-based DuckDB lists): sample_j = (byte_j − 128)·256, so
    * peak = 256·max|c|, energy = 65536·Σc², crossings = strict sign
    * changes of consecutive c — plus the duration from the SAME rate
    * formula the builder wrote into `fmt `. */
  val audioFeaturesSql: String =
    """WITH p AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n,
      |    CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS rate
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, rate, n,
      |    list_transform(range(0, n),
      |      j -> ('0x' || substr(hx, 1 + 2 * j, 2))::BIGINT - 128) AS cs
      |  FROM p)
      |SELECT doc_id, rate AS sample_rate, n AS n_samples,
      |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
      |  CAST(COALESCE(list_max(list_transform(cs, c -> abs(c))), 0) * 256
      |    AS BIGINT) AS peak,
      |  CAST(COALESCE(list_sum(list_transform(cs, c -> c * c)), 0) * 65536
      |    AS BIGINT) AS energy,
      |  CAST(COALESCE(list_sum(list_transform(range(0, n - 1),
      |    j -> CASE WHEN cs[j + 1] * cs[j + 2] < 0 THEN 1 ELSE 0 END)), 0)
      |    AS BIGINT) AS zero_crossings
      |FROM b""".stripMargin
}
