package graft.multimodal

/**
 * Pure-JVM video container demuxing — zero added dependencies — for
 * the two uncompressed/intra-only containers a JDK can fully handle:
 *
 *  - **Y4M** (YUV4MPEG2): a text header line (`YUV4MPEG2 W.. H.. F..
 *    C..`) followed by `FRAME\n` + raw planar YUV data per frame.
 *    Sampled frames re-emit as standalone single-frame Y4M clips
 *    (original stream header + one FRAME), so each output is itself a
 *    parseable clip — composable through the same seam.
 *  - **MJPEG-in-AVI**: a RIFF `AVI ` container whose `movi` LIST holds
 *    one complete JPEG per `..dc`/`..db` chunk. Sampled frames emit
 *    the raw JPEG payloads, which flow straight into
 *    [[Multimodal.decodeImages]]'s real `javax.imageio` decode — the
 *    full video -> frames -> pixels path with no stub anywhere.
 *
 * Compressed codecs (H.264 etc.) stay OUT of scope: the JDK ships no
 * entropy decoder, so those payloads return no frames (the corrupt-
 * record convention: degrade, never throw — one bad record must not
 * kill a 100 TB scan task).
 *
 * Reference behavior: the reference treats media as opaque blobs and
 * never decodes (reference app/models.py stores metadata only); frame
 * sampling is part of this engine's training-data-pipeline surface.
 */
object VideoDemux {

  private val Y4MMagic = "YUV4MPEG2"

  /** Container sniff + sample every `everyNth`-th frame (0, N, 2N, …).
    * Unknown/undecodable containers yield no frames. */
  def sampleFrames(bytes: Array[Byte], everyNth: Int): Seq[Array[Byte]] = {
    val n = math.max(1, everyNth)
    if (bytes == null || bytes.length < 12) Seq.empty
    else if (startsWith(bytes, Y4MMagic.getBytes("US-ASCII"))) sampleY4M(bytes, n)
    else if (startsWith(bytes, "RIFF".getBytes("US-ASCII")) &&
      bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' ')
      sampleAviFrames(bytes, n)
    else Seq.empty
  }

  private def startsWith(bytes: Array[Byte], prefix: Array[Byte]): Boolean =
    bytes.length >= prefix.length && {
      var i = 0
      while (i < prefix.length && bytes(i) == prefix(i)) i += 1
      i == prefix.length
    }

  // ---------------------------------------------------------------- Y4M

  /** Frame byte size for a YUV4MPEG2 colourspace tag. C420 variants
    * (420, 420jpeg, 420paldv, 420mpeg2) all carry 4:2:0 planes. */
  private def frameSize(w: Int, h: Int, c: String): Option[Long] =
    if (c.startsWith("420")) Some(w.toLong * h + 2L * ((w + 1) / 2) * ((h + 1) / 2))
    else if (c.startsWith("422")) Some(w.toLong * h + 2L * ((w + 1) / 2) * h)
    else if (c.startsWith("444")) Some(3L * w * h)
    else if (c.startsWith("mono")) Some(w.toLong * h)
    else None

  def sampleY4M(bytes: Array[Byte], everyNth: Int): Seq[Array[Byte]] =
    try {
      val headerEnd = bytes.indexOf('\n'.toByte)
      if (headerEnd < 0) return Seq.empty
      val header = new String(bytes, 0, headerEnd, "US-ASCII")
      val params = header.split(' ')
      if (params.head != Y4MMagic) return Seq.empty
      var w, h = -1
      var cs = "420" // spec default when no C param is present
      params.tail.foreach { p =>
        if (p.nonEmpty) p.charAt(0) match {
          case 'W' => w = p.substring(1).toInt
          case 'H' => h = p.substring(1).toInt
          case 'C' => cs = p.substring(1)
          case _ => () // F (rate), I (interlace), A (aspect), X (extension)
        }
      }
      if (w <= 0 || h <= 0) return Seq.empty
      val fs = frameSize(w, h, cs).getOrElse(return Seq.empty)
      if (fs > Int.MaxValue - 64) return Seq.empty
      val headerBytes = java.util.Arrays.copyOfRange(bytes, 0, headerEnd + 1)
      val frameMark = "FRAME".getBytes("US-ASCII")
      val out = Seq.newBuilder[Array[Byte]]
      var pos = headerEnd + 1
      var idx = 0
      while (pos < bytes.length) {
        // each frame: "FRAME" [params] "\n" + fs data bytes
        if (pos + frameMark.length > bytes.length) return out.result()
        var m = 0
        while (m < frameMark.length && bytes(pos + m) == frameMark(m)) m += 1
        if (m != frameMark.length) return out.result()
        var nl = pos
        while (nl < bytes.length && bytes(nl) != '\n'.toByte) nl += 1
        if (nl >= bytes.length) return out.result()
        val dataStart = nl + 1
        val dataEnd = dataStart + fs.toInt
        if (dataEnd > bytes.length) return out.result() // truncated tail frame
        if (idx % everyNth == 0) {
          // standalone single-frame clip: stream header + bare FRAME
          val clip = new Array[Byte](headerBytes.length + 6 + fs.toInt)
          System.arraycopy(headerBytes, 0, clip, 0, headerBytes.length)
          System.arraycopy("FRAME\n".getBytes("US-ASCII"), 0, clip, headerBytes.length, 6)
          System.arraycopy(bytes, dataStart, clip, headerBytes.length + 6, fs.toInt)
          out += clip
        }
        pos = dataEnd
        idx += 1
      }
      out.result()
    } catch { case _: Exception => Seq.empty }

  // ---------------------------------------------------------------- AVI

  private def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** True for `..dc` (compressed DIB — MJPEG's chunk id) and `..db`
    * (uncompressed DIB) stream chunks of any stream number. */
  private def isFrameChunk(b: Array[Byte], off: Int): Boolean = {
    val c2 = b(off + 2).toChar; val c3 = b(off + 3).toChar
    (c2 == 'd' && (c3 == 'c' || c3 == 'b')) &&
      Character.isLetterOrDigit(b(off).toChar) && Character.isLetterOrDigit(b(off + 1).toChar)
  }

  def sampleAviFrames(bytes: Array[Byte], everyNth: Int): Seq[Array[Byte]] =
    try {
      val out = Seq.newBuilder[Array[Byte]]
      var idx = 0
      // walk a RIFF chunk run in [pos, end); recurse into LISTs so both
      // top-level `movi` and nested `rec ` groupings are covered
      def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
        var pos = start
        while (pos + 8 <= end) {
          val size = le32(bytes, pos + 4)
          if (size > Int.MaxValue - 16 || pos + 8 + size > end) return // corrupt: stop here
          val isList = bytes(pos) == 'L' && bytes(pos + 1) == 'I' &&
            bytes(pos + 2) == 'S' && bytes(pos + 3) == 'T'
          if (isList && size >= 4) {
            val listType = new String(bytes, pos + 8, 4, "US-ASCII")
            walk(pos + 12, pos + 8 + size.toInt,
              inMovi || listType == "movi" || listType == "rec ")
          } else if (inMovi && isFrameChunk(bytes, pos)) {
            if (idx % everyNth == 0)
              out += java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + size.toInt)
            idx += 1
          }
          pos += 8 + size.toInt + (size.toInt & 1) // chunks pad to even
        }
      }
      walk(12, math.min(bytes.length.toLong, 8L + le32(bytes, 4)).toInt, inMovi = false)
      out.result()
    } catch { case _: Exception => Seq.empty }

  /** Minimal MJPEG-in-AVI writer (test-fixture counterpart of
    * [[sampleAviFrames]]): wraps complete JPEG payloads in a RIFF
    * `AVI ` container with a bare `movi` LIST. Real players want an
    * `hdrl` too; the demuxer deliberately does not. */
  def writeAviMjpeg(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val moviBody = frames.map(f => 8 + f.length + (f.length & 1)).sum + 4
    tag("RIFF"); w32(4 + 8 + moviBody); tag("AVI ")
    tag("LIST"); w32(moviBody); tag("movi")
    frames.foreach { f =>
      tag("00dc"); w32(f.length); bos.write(f)
      if ((f.length & 1) == 1) bos.write(0)
    }
    bos.toByteArray
  }
}
