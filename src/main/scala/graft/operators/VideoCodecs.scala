package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

/** Real (if minimal) video codec for the multimodal decode contract:
  * canonical AVI — a RIFF container like [[AudioCodecs]]' WAV — holding
  * uncompressed 24-bit DIB frames, the classic zero-dependency video
  * format. The decoder walks the real chunk tree (`hdrl` → `avih` +
  * `strl`/`strh`/`strf`, then `movi` → `00db` frame chunks), validates
  * the stream headers (vids / BI_RGB / 24-bit), and computes per-frame
  * pixel statistics from the actual frame bytes — skipping DIB row
  * padding, which the fixture generator fills with 0xAB exactly like the
  * BMP trap: a decoder that sums raw `00db` payloads diverges from the
  * oracle.
  *
  * Fail-loud contract (same as the image/audio codecs): bad magic,
  * truncated chunks, compressed or non-24-bit streams, and a frame count
  * that disagrees between `avih` and the `movi` list all throw.
  */
object VideoCodecs {

  /** (width, height, per-frame pixel-component byte sums). */
  final case class AviDecoded(width: Long, height: Long, frameSums: Array[Long])

  def decodeAvi(bytes: Array[Byte]): AviDecoded = {
    require(bytes.length >= 12, "truncated AVI: no RIFF header")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(tag(bytes, 0) == "RIFF", "not an AVI: bad RIFF magic")
    val riffSize = buf.getInt(4).toLong & 0xffffffffL
    require(riffSize == bytes.length - 8,
      s"RIFF size $riffSize != payload ${bytes.length - 8}")
    require(tag(bytes, 8) == "AVI ", "not an AVI: bad form type")

    var width = 0L
    var height = 0L
    var declaredFrames = -1L
    var streamOk = false
    var sums: Array[Long] = null

    def walk(from: Int, to: Int): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val id = tag(bytes, pos)
        val size = buf.getInt(pos + 4).toLong & 0xffffffffL
        val body = pos + 8
        require(body + size <= to, s"truncated '$id' chunk")
        id match {
          case "LIST" =>
            // The list type is 4 bytes of the chunk BODY: a declared size
            // under 4 would read the next chunk's header as the type and
            // misparse silently instead of failing loud.
            require(size >= 4, s"short LIST chunk (size $size < 4)")
            val listType = tag(bytes, body)
            listType match {
              case "hdrl" | "strl" => walk(body + 4, body + size.toInt)
              case "movi" => sums = decodeMovi(body + 4, body + size.toInt)
              case _ => () // junk LIST: skip
            }
          case "avih" =>
            require(size >= 56, "short avih chunk")
            declaredFrames = buf.getInt(body + 16).toLong & 0xffffffffL
            width = buf.getInt(body + 32).toLong & 0xffffffffL
            height = buf.getInt(body + 36).toLong & 0xffffffffL
          case "strh" =>
            require(size >= 56, "short strh chunk")
            require(tag(bytes, body) == "vids", "stream is not video")
          case "strf" =>
            require(size >= 40, "short strf chunk")
            val bitCount = buf.getShort(body + 14) & 0xffff
            val compression = buf.getInt(body + 16)
            require(bitCount == 24, s"unsupported bit depth $bitCount (24 only)")
            require(compression == 0, s"unsupported compression $compression (BI_RGB only)")
            require((buf.getInt(body + 4).toLong & 0xffffffffL) == width
              && (buf.getInt(body + 8).toLong & 0xffffffffL) == height,
              "strf dims disagree with avih")
            streamOk = true
          case _ => () // unknown chunk: skip
        }
        pos = body + size.toInt + (size.toInt & 1) // RIFF chunks word-align
      }
    }

    def decodeMovi(from: Int, to: Int): Array[Long] = {
      require(streamOk && width > 0 && height > 0, "movi before valid headers")
      val stride = ((3 * width + 3) / 4 * 4).toInt
      val out = Array.newBuilder[Long]
      var pos = from
      while (pos + 8 <= to) {
        val id = tag(bytes, pos)
        val size = buf.getInt(pos + 4).toLong & 0xffffffffL
        val body = pos + 8
        require(body + size <= to, s"truncated '$id' frame chunk")
        if (id == "00db") {
          require(size == stride.toLong * height, s"frame size $size != ${stride * height}")
          var sum = 0L
          var y = 0
          while (y < height) {
            var x = 0
            while (x < 3 * width) { // pixel bytes only — padding skipped
              sum += bytes(body + y * stride + x) & 0xff
              x += 1
            }
            y += 1
          }
          out += sum
        }
        pos = body + size.toInt + (size.toInt & 1)
      }
      out.result()
    }

    walk(12, bytes.length)
    require(sums != null, "no movi list")
    require(declaredFrames == sums.length,
      s"avih declares $declaredFrames frames, movi carries ${sums.length}")
    AviDecoded(width, height, sums)
  }

  private def tag(bytes: Array[Byte], at: Int): String =
    new String(bytes, at, 4, US_ASCII)
}

/** Deterministic AVI fixtures: (id%7+2) × (id%5+2) 24-bit frames,
  * 8 + id%9 of them; pixel-component byte k of frame f is
  * `(id·31 + f·7 + k) % 256` — SQL-replayable. DIB rows pad to 4 bytes
  * with 0xAB (the decoder must skip them).
  */
object AviFixtures {
  def width(id: Long): Int = (id % 7 + 2).toInt
  def height(id: Long): Int = (id % 5 + 2).toInt
  def nFrames(id: Long): Int = (8 + id % 9).toInt

  def pxByte(id: Long, f: Long, k: Long): Byte = ((id * 31 + f * 7 + k) % 256).toByte

  def avi(id: Long): Array[Byte] = {
    val w = width(id); val h = height(id); val n = nFrames(id)
    val stride = (3 * w + 3) / 4 * 4
    val frameBytes = stride * h
    val moviSize = 4 + n * (8 + frameBytes)
    val hdrlSize = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
    val total = 12 + (8 + hdrlSize) + (8 + moviSize)
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes(US_ASCII)).putInt(total - 8)
    out.put("AVI ".getBytes(US_ASCII))
    out.put("LIST".getBytes(US_ASCII)).putInt(hdrlSize)
    out.put("hdrl".getBytes(US_ASCII))
    out.put("avih".getBytes(US_ASCII)).putInt(56)
    out.putInt(100000) // us per frame (10 fps)
    out.putInt(0).putInt(0).putInt(0)
    out.putInt(n) // total frames
    out.putInt(0)
    out.putInt(1) // streams
    out.putInt(frameBytes)
    out.putInt(w).putInt(h)
    out.putInt(0).putInt(0).putInt(0).putInt(0)
    out.put("LIST".getBytes(US_ASCII)).putInt(4 + 64 + 48)
    out.put("strl".getBytes(US_ASCII))
    out.put("strh".getBytes(US_ASCII)).putInt(56)
    out.put("vids".getBytes(US_ASCII))
    out.put("DIB ".getBytes(US_ASCII))
    out.putInt(0) // flags
    out.putShort(0).putShort(0) // priority, language
    out.putInt(0) // initial frames
    out.putInt(1) // scale
    out.putInt(10) // rate -> 10 fps
    out.putInt(0) // start
    out.putInt(n) // length
    out.putInt(frameBytes)
    out.putInt(-1) // quality
    out.putInt(0) // sample size
    out.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
    out.put("strf".getBytes(US_ASCII)).putInt(40)
    out.putInt(40).putInt(w).putInt(h)
    out.putShort(1).putShort(24)
    out.putInt(0) // BI_RGB
    out.putInt(frameBytes)
    out.putInt(0).putInt(0).putInt(0).putInt(0)
    out.put("LIST".getBytes(US_ASCII)).putInt(moviSize)
    out.put("movi".getBytes(US_ASCII))
    var f = 0
    while (f < n) {
      out.put("00db".getBytes(US_ASCII)).putInt(frameBytes)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < stride) {
          if (x < 3 * w) out.put(pxByte(id, f, y.toLong * 3 * w + x))
          else out.put(0xAB.toByte) // the padding trap
          x += 1
        }
        y += 1
      }
      f += 1
    }
    out.array()
  }
}
