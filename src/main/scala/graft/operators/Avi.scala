package graft.operators

import java.io.ByteArrayOutputStream

/** AVI (RIFF) container codec for MJPEG video — the video member of the
  * multimodal family, built like [[Multimodal.wavDecode]]: a real
  * chunk-walking parser over the public container format (Microsoft "AVI
  * RIFF File Reference"), no codec library. Frames are baseline JPEGs
  * ([[Jpeg]]), so MJPEG — a sequence of independently-coded JPEG frames,
  * still a common acquisition format — decodes end-to-end with code this
  * repo already proves bit-exact on block-constant images (q55e).
  * Inter-frame codecs (H.264/H.265) remain the documented external-lib
  * stub: their entropy coding + motion compensation need a real codec
  * library this environment lacks; the CONTAINER walk, frame indexing,
  * and sampling layers here are exactly what such a decoder would slot
  * into.
  *
  * Layout written and parsed (fourcc sizes little-endian, chunks
  * word-aligned):
  * {{{
  * RIFF('AVI '
  *   LIST('hdrl'
  *     'avih' (MainAVIHeader, 56 bytes)
  *     LIST('strl' 'strh'(fccType 'vids', handler 'MJPG')
  *                 'strf'(BITMAPINFOHEADER, biCompression 'MJPG')))
  *   LIST('movi' '00dc'(jpeg) …)
  *   'idx1' (16-byte AVIINDEXENTRY per frame, AVIIF_KEYFRAME))
  * }}}
  *
  * Scale posture: one video = one binary cell; decode runs inside the
  * [[Multimodal]] per-partition decode pipeline (no driver involvement),
  * and FRAME SAMPLING — the curation operation the brief names — happens
  * at the container level, so unsampled frames' JPEG payloads are never
  * entropy-decoded: sampling an every-k-th-frame subset costs the chunk
  * walk plus only the sampled frames' decodes.
  */
object Avi {

  /** A parsed MJPEG video: header geometry + the raw JPEG bytes per frame,
    * plus the optional PCM audio track ('01wb' stream — audioRate 0 and an
    * empty sample array when the container carries video only).
    */
  final case class AviVideo(width: Int, height: Int, usecPerFrame: Int,
                            frames: Vector[Array[Byte]],
                            audioRate: Int = 0,
                            audio: Array[Short] = Array.emptyShortArray)

  private def le32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
  private def le16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def fourcc(out: ByteArrayOutputStream, s: String): Unit =
    out.write(s.getBytes("US-ASCII"))

  /** Encode JPEG frames as a standards-shaped MJPEG AVI — optionally with
    * a 16-bit mono PCM audio track (`audio` = (sampleRate, samples)):
    * stream 1 ('auds' strl with a WAVEFORMATEX strf, samples in one
    * word-aligned '01wb' movi chunk, indexed in idx1) — the audio member
    * [[graft.operators.Multimodal.wavEncode]] proves sample-exact,
    * composed into the container. With no audio the output is
    * byte-identical to the video-only layout q55f pinned.
    */
  def encode(width: Int, height: Int, usecPerFrame: Int,
             frames: Seq[Array[Byte]],
             audio: Option[(Int, Array[Short])] = None): Array[Byte] = {
    require(frames.nonEmpty, "avi encode: at least one frame")
    val maxFrame = frames.map(_.length).max

    // 'strl' list: strh + strf
    val strl = new ByteArrayOutputStream()
    fourcc(strl, "LIST")
    val strlBody = new ByteArrayOutputStream()
    fourcc(strlBody, "strl")
    fourcc(strlBody, "strh"); le32(strlBody, 56)
    fourcc(strlBody, "vids"); fourcc(strlBody, "MJPG")
    le32(strlBody, 0) // flags
    le16(strlBody, 0); le16(strlBody, 0) // priority, language
    le32(strlBody, 0) // initial frames
    le32(strlBody, usecPerFrame) // scale (with rate=1e6 → fps = 1e6/usec)
    le32(strlBody, 1000000) // rate
    le32(strlBody, 0) // start
    le32(strlBody, frames.length) // length in frames
    le32(strlBody, maxFrame) // suggested buffer size
    le32(strlBody, -1) // quality (default)
    le32(strlBody, 0) // sample size (0: varying)
    le16(strlBody, 0); le16(strlBody, 0) // rcFrame left, top
    le16(strlBody, width); le16(strlBody, height) // rcFrame right, bottom
    fourcc(strlBody, "strf"); le32(strlBody, 40)
    le32(strlBody, 40) // biSize
    le32(strlBody, width); le32(strlBody, height)
    le16(strlBody, 1); le16(strlBody, 24) // planes, bit count
    fourcc(strlBody, "MJPG") // biCompression
    le32(strlBody, width * height * 3) // biSizeImage
    le32(strlBody, 0); le32(strlBody, 0) // pels/meter
    le32(strlBody, 0); le32(strlBody, 0) // clr used/important
    le32(strl, strlBody.size()); strlBody.writeTo(strl)

    // 'strl' list for the optional PCM audio stream: strh('auds') + a
    // 16-byte WAVEFORMATEX strf — the layout every AVI audio reader
    // expects for uncompressed PCM
    val strlAud = audio.map { case (rate, samples) =>
      val a = new ByteArrayOutputStream()
      fourcc(a, "LIST")
      val ab = new ByteArrayOutputStream()
      fourcc(ab, "strl")
      fourcc(ab, "strh"); le32(ab, 56)
      fourcc(ab, "auds"); le32(ab, 0) // handler: none for raw PCM
      le32(ab, 0) // flags
      le16(ab, 0); le16(ab, 0) // priority, language
      le32(ab, 0) // initial frames
      le32(ab, 1) // scale (with rate → samples/sec)
      le32(ab, rate) // rate
      le32(ab, 0) // start
      le32(ab, samples.length) // length in samples
      le32(ab, samples.length * 2) // suggested buffer size
      le32(ab, -1) // quality
      le32(ab, 2) // sample size (block align: mono 16-bit)
      le16(ab, 0); le16(ab, 0); le16(ab, 0); le16(ab, 0) // rcFrame
      fourcc(ab, "strf"); le32(ab, 16)
      le16(ab, 1) // wFormatTag: PCM
      le16(ab, 1) // mono
      le32(ab, rate)
      le32(ab, rate * 2) // avg bytes/sec
      le16(ab, 2)  // block align
      le16(ab, 16) // bits per sample
      le32(a, ab.size()); ab.writeTo(a)
      a
    }

    // 'hdrl' list: avih + strl
    val hdrl = new ByteArrayOutputStream()
    fourcc(hdrl, "LIST")
    val hdrlBody = new ByteArrayOutputStream()
    fourcc(hdrlBody, "hdrl")
    fourcc(hdrlBody, "avih"); le32(hdrlBody, 56)
    le32(hdrlBody, usecPerFrame)
    le32(hdrlBody, if (usecPerFrame > 0) (maxFrame.toLong * 1000000L / usecPerFrame).toInt else 0)
    le32(hdrlBody, 0) // padding granularity
    le32(hdrlBody, 0x10) // AVIF_HASINDEX
    le32(hdrlBody, frames.length)
    le32(hdrlBody, 0) // initial frames
    le32(hdrlBody, 1 + strlAud.size) // streams
    le32(hdrlBody, maxFrame) // suggested buffer size
    le32(hdrlBody, width); le32(hdrlBody, height)
    (0 until 4).foreach(_ => le32(hdrlBody, 0)) // reserved
    hdrlBody.write(strl.toByteArray)
    strlAud.foreach(_.writeTo(hdrlBody))
    le32(hdrl, hdrlBody.size()); hdrlBody.writeTo(hdrl)

    // 'movi' list: word-aligned '00dc' chunks; idx1 offsets are relative
    // to the 'movi' fourcc position (the common convention)
    val movi = new ByteArrayOutputStream()
    fourcc(movi, "LIST")
    val moviBody = new ByteArrayOutputStream()
    fourcc(moviBody, "movi")
    val offsets = frames.map { f =>
      // moviBody begins AT the 'movi' fourcc, so the current size IS the
      // chunk-id offset from it
      val off = moviBody.size()
      fourcc(moviBody, "00dc"); le32(moviBody, f.length)
      moviBody.write(f)
      if ((f.length & 1) == 1) moviBody.write(0) // word alignment pad
      off
    }
    // PCM rides in ONE '01wb' chunk (always word-aligned: 2 bytes/sample)
    val audOffset = audio.map { case (_, samples) =>
      val off = moviBody.size()
      fourcc(moviBody, "01wb"); le32(moviBody, samples.length * 2)
      samples.foreach { s => moviBody.write(s & 0xff); moviBody.write((s >> 8) & 0xff) }
      off
    }
    le32(movi, moviBody.size()); moviBody.writeTo(movi)

    val idx1 = new ByteArrayOutputStream()
    fourcc(idx1, "idx1"); le32(idx1, 16 * (frames.length + audOffset.size))
    frames.zip(offsets).foreach { case (f, off) =>
      fourcc(idx1, "00dc")
      le32(idx1, 0x10) // AVIIF_KEYFRAME
      le32(idx1, off)
      le32(idx1, f.length)
    }
    audio.zip(audOffset).foreach { case ((_, samples), off) =>
      fourcc(idx1, "01wb")
      le32(idx1, 0x10)
      le32(idx1, off)
      le32(idx1, samples.length * 2)
    }

    val riffBody = new ByteArrayOutputStream()
    fourcc(riffBody, "AVI ")
    hdrl.writeTo(riffBody); movi.writeTo(riffBody); idx1.writeTo(riffBody)
    val out = new ByteArrayOutputStream()
    fourcc(out, "RIFF"); le32(out, riffBody.size()); riffBody.writeTo(out)
    out.toByteArray
  }

  private def rdLe32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
      ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
  private def rdLe16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def cc(b: Array[Byte], p: Int): String =
    new String(b, p, 4, "US-ASCII")

  /** Parse an MJPEG AVI: chunk walk, header validation, frame payload
    * collection ('00dc'/'00db' chunks of stream 0, word-aligned).
    */
  def decode(bytes: Array[Byte]): AviVideo = {
    require(bytes.length >= 12 && cc(bytes, 0) == "RIFF" && cc(bytes, 8) == "AVI ",
      "avi decode: not a RIFF/AVI stream")
    var width = 0; var height = 0; var usec = 0; var declared = -1
    var curStrm = "" // fccType of the strl being walked (strh precedes strf)
    var audioRate = 0
    val frames = Vector.newBuilder[Array[Byte]]
    val audBytes = new ByteArrayOutputStream()

    def walk(from: Int, to: Int): Unit = {
      var p = from
      while (p + 8 <= to) {
        val id = cc(bytes, p)
        val size = rdLe32(bytes, p + 4)
        val body = p + 8
        // Long arithmetic: size near 2^31 must overrun cleanly, not wrap
        require(size >= 0 && body.toLong + size <= to,
          s"avi decode: chunk '$id' overruns its parent")
        id match {
          case "LIST" =>
            val listType = cc(bytes, body)
            if (listType == "hdrl" || listType == "movi" || listType == "strl")
              walk(body + 4, body + size)
          case "avih" =>
            require(size >= 40,
              s"avi decode: avih declares $size bytes, header needs 40")
            usec = rdLe32(bytes, body)
            declared = rdLe32(bytes, body + 16)
            width = rdLe32(bytes, body + 32)
            height = rdLe32(bytes, body + 36)
          case "strh" =>
            require(size >= 4,
              s"avi decode: strh declares $size bytes, fccType needs 4")
            curStrm = cc(bytes, body)
          case "strf" if curStrm == "auds" =>
            // WAVEFORMATEX: the same PCM-only contract as wavDecode
            require(size >= 16,
              s"avi decode: audio strf declares $size bytes, WAVEFORMATEX needs 16")
            val fmt = rdLe16(bytes, body)
            require(fmt == 1, s"avi decode: audio not PCM (format $fmt)")
            val ch = rdLe16(bytes, body + 2)
            require(ch == 1, s"avi decode: only mono audio is decoded (got $ch)")
            val bits = rdLe16(bytes, body + 14)
            require(bits == 16, s"avi decode: only 16-bit PCM is decoded (got $bits)")
            audioRate = rdLe32(bytes, body + 4)
          case "00dc" | "00db" =>
            frames += java.util.Arrays.copyOfRange(bytes, body, body + size)
          case "01wb" =>
            audBytes.write(bytes, body, size)
          case _ => () // video strf/idx1/JUNK: geometry comes from avih
        }
        p = body + size + (size & 1)
      }
    }
    // clamp to the buffer: a declared RIFF size past the data must fail
    // inside walk's require, not index out of bounds. The RIFF size is
    // UNSIGNED — read ≥ 2^31 as its positive long value (a signed read
    // would go negative, end the clamped walk before offset 12, and
    // silently decode an empty video instead of failing loudly)
    walk(12, math.min(bytes.length.toLong,
      8L + (rdLe32(bytes, 4) & 0xffffffffL)).toInt)
    val fs = frames.result()
    require(declared < 0 || declared == fs.length,
      s"avi decode: header declares $declared frames, movi carries ${fs.length}")
    val ab = audBytes.toByteArray
    require(ab.isEmpty || audioRate > 0,
      "avi decode: '01wb' audio data without an auds WAVEFORMATEX header")
    require(ab.length % 2 == 0, "avi decode: odd 16-bit PCM payload")
    val samples = Array.tabulate(ab.length / 2)(i => rdLe16(ab, i * 2).toShort)
    AviVideo(width, height, usec, fs, if (ab.isEmpty) 0 else audioRate, samples)
  }

  /** Every `stride`-th frame with its index — container-level sampling:
    * unsampled frames are never entropy-decoded.
    */
  def sampleFrames(v: AviVideo, stride: Int): Vector[(Int, Array[Byte])] = {
    require(stride >= 1, s"sampleFrames: stride >= 1 (got $stride)")
    v.frames.zipWithIndex.collect { case (f, i) if i % stride == 0 => (i, f) }
  }
}
