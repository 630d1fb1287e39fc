package graft.xml

import java.io.InputStream
import java.nio.charset.Charset

import org.apache.hadoop.fs.{Path, Seekable}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.{CodecPool, CompressionCodecFactory, Decompressor, SplittableCompressionCodec}
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}

/**
 * Hadoop input format that extracts `<rowTag …>…</rowTag>` blocks from raw
 * byte splits and emits each as one [[Text]] record (bytes in the file's
 * charset, or UTF-8 for a charset that is not ASCII-compatible; the
 * callers of [[XmlFile.records]] and [[XmlFile.read]] decode them).
 *
 * Fulfills the same contract as the reference's record splitter (reference:
 * src/main/scala/com/databricks/spark/xml/XmlInputFormat.scala:32-340) with a
 * different mechanism: a single-pass byte state machine with quote-,
 * comment- and CDATA-awareness, and split-boundary handling done purely by
 * byte position (a record belongs to the split in which its opening `<`
 * lies; scanning continues past the split end to finish an open record).
 *
 * Block-compressed codecs that implement [[SplittableCompressionCodec]]
 * (bzip2) are split too: the reader opens the stream in BYBLOCK mode, the
 * split range snaps to compressed-block boundaries, and record ownership is
 * decided by the compressed block position — a record belongs to the split
 * whose block range contains the block it starts in. Stream codecs (gzip)
 * remain one split per file; at scale, parallelism there comes from many
 * files, which is how 100 TB XML corpora are laid out anyway.
 *
 * Known limitation, shared with the reference and Spark's built-in `xml`
 * source (reference: XmlInputFormat.scala:193-217): split scanning is
 * context-free, so a split that begins INSIDE a record (self-nested row
 * tags) or inside a comment/CDATA that contains a row-tag opener takes the
 * first `<rowTag` it sees as a record start and emits a phantom record.
 * Within a split these constructs are handled exactly (XmlScannerFuzzSuite);
 * across boundaries exactness would require scanning from file start, which
 * forfeits the parallel-scan contract.
 */
class XmlInputFormat extends FileInputFormat[LongWritable, Text] {

  override def createRecordReader(
      split: InputSplit,
      context: TaskAttemptContext): RecordReader[LongWritable, Text] =
    new XmlRecordReader

  override def isSplitable(context: JobContext, file: Path): Boolean = {
    // Non-ASCII-compatible charsets (UTF-16/32, EBCDIC) cannot be scanned
    // byte-wise from an arbitrary mid-file offset: code-unit alignment and
    // BOM state are unknowable there. Such files are read whole (decoded to
    // UTF-8 by the record reader); at 100 TB parallelism comes from many
    // files, which is how large XML corpora are laid out anyway.
    val charset = Charset.forName(
      context.getConfiguration.get(XmlInputFormat.ENCODING_KEY, "UTF-8"))
    if (!XmlInputFormat.isAsciiCompatible(charset)) return false
    val codec = new CompressionCodecFactory(context.getConfiguration).getCodec(file)
    codec == null || codec.isInstanceOf[SplittableCompressionCodec]
  }
}

object XmlInputFormat {
  /** Configuration key: row tag name (no angle brackets). */
  val ROW_TAG_KEY = "graft.xml.input.rowtag"
  /** Configuration key: charset name of the input files. */
  val ENCODING_KEY = "graft.xml.input.encoding"

  /**
   * A charset the byte state machine can scan directly: the XML structural
   * bytes encode to their single ASCII byte values. UTF-8 and the 8-bit
   * ASCII supersets qualify; UTF-16/32 and EBCDIC do not and take the
   * decode-to-UTF-8 path instead.
   */
  def isAsciiCompatible(charset: Charset): Boolean = {
    // Decode-only charsets (ISO-2022-CN, x-JISAutoDetect) would throw from
    // getBytes; the transcode path only ever decodes them, so route there.
    if (!charset.canEncode) return false
    val probe = "</aA1>".getBytes(charset)
    probe.length == 6 && probe.sameElements("</aA1>".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  }
}

private[xml] final class XmlRecordReader extends RecordReader[LongWritable, Text] {

  private var startTag: Array[Byte] = _ // "<tag"
  private var endTag: Array[Byte] = _ // "</tag>"
  private var in: InputStream = _
  private var splitStart = 0L
  private var splitEnd = 0L
  private var pos = 0L // absolute byte offset of the next byte to be read
  private val currentKey = new LongWritable
  private val currentValue = new Text
  private var finished = false
  private var openDelim = 0 // delimiter byte that ended the start-tag match
  // Non-null for splittable compressed input: compressed-stream position,
  // block-granular in BYBLOCK mode. Ownership checks then compare it (not
  // the uncompressed `pos`) against the block-aligned split end.
  private var compressedPos: Seekable = _
  private var decompressor: Decompressor = _

  private var capture = true // false while skipping constructs between records
  private val buf = new Array[Byte](131072)
  private var bufLen = 0
  private var bufPos = 0
  // Record accumulator: a plain growable array, NOT ByteArrayOutputStream —
  // BAOS methods are synchronized, and with biased locking gone (JDK 15+)
  // a per-byte lock in the hot loop costs more than the byte work itself.
  private var recBuf = new Array[Byte](65536)
  private var recLen = 0

  @inline private def recEnsure(n: Int): Unit = {
    val need = recLen.toLong + n
    if (need > recBuf.length) {
      // Long arithmetic: doubling an Int capacity past 2^30 overflows
      // negative and would loop forever. Records near the 2 GiB array limit
      // fail loudly instead.
      if (need > Int.MaxValue - 8) {
        throw new IllegalStateException(
          s"XML record exceeds ${Int.MaxValue - 8} bytes; is rowTag ever closed?")
      }
      var cap = recBuf.length.toLong
      while (cap < need) cap <<= 1
      recBuf = java.util.Arrays.copyOf(recBuf, math.min(cap, Int.MaxValue - 8).toInt)
    }
  }
  @inline private def recWrite(b: Int): Unit = {
    recEnsure(1); recBuf(recLen) = b.toByte; recLen += 1
  }
  private def recWrite(src: Array[Byte], off: Int, len: Int): Unit = {
    recEnsure(len); System.arraycopy(src, off, recBuf, recLen, len); recLen += len
  }
  private def recWrite(src: Array[Byte]): Unit = recWrite(src, 0, src.length)

  override def initialize(genericSplit: InputSplit, context: TaskAttemptContext): Unit = {
    val split = genericSplit.asInstanceOf[FileSplit]
    val conf = context.getConfiguration
    val charset = Charset.forName(conf.get(XmlInputFormat.ENCODING_KEY, "UTF-8"))
    val rowTag = conf.get(XmlInputFormat.ROW_TAG_KEY)
    require(rowTag != null && rowTag.nonEmpty, "row tag must be configured")
    // Non-ASCII-compatible input is decoded to UTF-8 before scanning (below),
    // so the state machine — and the records it emits — are always in an
    // ASCII-compatible encoding, and XmlFile decodes them accordingly.
    val transcode = !XmlInputFormat.isAsciiCompatible(charset)
    val tagCharset = if (transcode) java.nio.charset.StandardCharsets.UTF_8 else charset
    startTag = s"<$rowTag".getBytes(tagCharset)
    endTag = s"</$rowTag>".getBytes(tagCharset)

    val file = split.getPath
    val fs = file.getFileSystem(conf)
    val fsIn = fs.open(file)
    val codec = new CompressionCodecFactory(conf).getCodec(file)
    codec match {
      case null =>
        fsIn.seek(split.getStart)
        splitStart = split.getStart
        splitEnd = split.getStart + split.getLength
        pos = splitStart
        in = fsIn
      case sc: SplittableCompressionCodec =>
        // BYBLOCK: the stream starts at the first compressed block at or
        // after split start and reports block-granular positions, so every
        // block — and every record starting in it — is owned by exactly one
        // split. Reading continues past the adjusted end to finish an open
        // record (reference: XmlInputFormat.scala:89-120 semantics).
        decompressor = CodecPool.getDecompressor(codec)
        val cIn = sc.createInputStream(fsIn, decompressor,
          split.getStart, split.getStart + split.getLength,
          SplittableCompressionCodec.READ_MODE.BYBLOCK)
        splitStart = cIn.getAdjustedStart
        splitEnd = cIn.getAdjustedEnd
        pos = 0L
        compressedPos = cIn
        in = cIn
      case _ =>
        // Stream codec (gzip): whole compressed file as one split.
        decompressor = CodecPool.getDecompressor(codec)
        splitStart = 0L
        splitEnd = Long.MaxValue
        pos = 0L
        in = codec.createInputStream(fsIn, decompressor)
    }
    if (transcode) {
      // isSplitable returned false for this charset, so this split is the
      // whole file; ownership checks are moot and `pos` counts UTF-8 bytes
      // of the decoded stream (which may exceed the file's byte length).
      in = new TranscodingInputStream(in, charset)
      compressedPos = null
      splitStart = 0L
      splitEnd = Long.MaxValue
      pos = 0L
    }
  }

  // Compressed-stream position as of the last buffer fill. BYBLOCK reads
  // never span compressed-block boundaries, so this position is valid for
  // every byte currently buffered.
  private var streamPos = 0L

  private def fill(): Boolean = {
    bufLen = in.read(buf)
    bufPos = 0
    if (compressedPos != null) streamPos = compressedPos.getPos
    bufLen > 0
  }

  /** Next byte or -1; advances `pos`. */
  @inline private def readByte(): Int = {
    if (bufPos >= bufLen && !fill()) return -1
    val b = buf(bufPos) & 0xff
    bufPos += 1
    pos += 1
    b
  }

  override def nextKeyValue(): Boolean = {
    if (finished) return false
    recLen = 0
    val startPos = scanToStartTag()
    if (startPos < 0) { finished = true; return false }
    if (readRecordBody()) {
      currentKey.set(startPos)
      currentValue.set(recBuf, 0, recLen)
      true
    } else {
      // EOF hit mid-record (malformed trailing data): stop.
      finished = true
      false
    }
  }

  @inline private def isTagDelimiter(b: Int): Boolean =
    b == '>' || b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '/'

  /**
   * Scans forward for the next start tag whose `<` begins before the split
   * end. Returns the absolute position of that `<`, or -1. On success the
   * record buffer holds `<tag` plus the delimiter byte (stored in openDelim).
   */
  private def scanToStartTag(): Long = {
    var b = readByte()
    while (b != -1) {
      if (b == '<') {
        val tagStart = pos - 1
        if (compressedPos != null) {
          // Block-granular ownership: once the stream has moved past the
          // adjusted split end, new records belong to the next split.
          if (streamPos > splitEnd) return -1
        } else if (tagStart >= splitEnd) return -1
        var i = 1
        var matched = true
        var bb = 0
        while (matched && i < startTag.length) {
          bb = readByte()
          if (bb == -1) return -1
          if (bb != (startTag(i) & 0xff)) matched = false else i += 1
        }
        if (matched) {
          val delim = readByte()
          if (delim == -1) return -1
          if (isTagDelimiter(delim)) {
            recWrite(startTag)
            recWrite(delim)
            openDelim = delim
            return tagStart
          }
          // Not our tag (e.g. <rowTagFoo); re-examine the breaking byte in
          // case it opens a new tag.
          b = delim
        } else if (i == 1 && (bb == '!' || bb == '?')) {
          // Comment / CDATA / declaration / PI between records: a row tag
          // inside one must not be taken as a record start. Skip wholesale.
          capture = false
          val ok = if (bb == '!') skipSpecial() else skipProcessingInstruction()
          capture = true
          if (!ok) return -1
          b = readByte()
        } else {
          b = bb // '<' cannot recur inside the matched prefix; rescan from bb
        }
      } else {
        // Bulk path: between-record bytes are not captured — skip to the
        // next '<' directly in the read buffer.
        if (bufPos < bufLen && buf(bufPos) != '<') {
          var i = bufPos + 1
          while (i < bufLen && buf(i) != '<') i += 1
          pos += i - bufPos
          bufPos = i
        }
        b = readByte()
      }
    }
    -1
  }

  /**
   * With `<tag` + one delimiter consumed, reads the rest of the record:
   * finishes the start tag (quote-aware), then tracks nesting of same-named
   * tags until depth 0. All bytes are appended to the record buffer.
   * Returns false on EOF before the record completes.
   */
  private def readRecordBody(): Boolean = {
    var depth = 0
    if (openDelim == '>') {
      depth = 1
    } else {
      finishOpenTag(openDelim) match {
        case -1 => return false
        case 0 => return true // self-closing record
        case _ => depth = 1
      }
    }
    while (depth > 0) {
      // Bulk path: copy content bytes (everything up to the next '<')
      // straight from the read buffer with one arraycopy instead of a
      // readByte + recWrite pair per byte.
      if (bufPos < bufLen && buf(bufPos) != '<') {
        var i = bufPos + 1
        while (i < bufLen && buf(i) != '<') i += 1
        recWrite(buf, bufPos, i - bufPos)
        pos += i - bufPos
        bufPos = i
      }
      val b = readByte()
      if (b == -1) return false
      recWrite(b)
      if (b == '<') {
        // In-buffer fast path for the two dominant constructs (exact end
        // tags and quote-free tags): peek without consuming, so any
        // mismatch, buffer boundary, or unusual shape falls through to the
        // byte-wise path below with identical semantics.
        val delta = tryFastTag()
        if (delta != Int.MinValue) {
          depth += delta
        } else {
        val n = readByte()
        if (n == -1) return false
        recWrite(n)
        if (n == '/') {
          // Candidate end tag: match the name bytes of "</tag", then allow
          // optional whitespace before '>' (XML ETag is '</' Name S? '>').
          var i = 2
          var matched = true
          var broke = 0
          while (matched && i < endTag.length - 1) {
            val bb = readByte()
            if (bb == -1) return false
            recWrite(bb)
            if (bb != (endTag(i) & 0xff)) { matched = false; broke = bb } else i += 1
          }
          if (matched) {
            var bb = readByte()
            if (bb == -1) return false
            recWrite(bb)
            while (bb == ' ' || bb == '\t' || bb == '\n' || bb == '\r') {
              bb = readByte()
              if (bb == -1) return false
              recWrite(bb)
            }
            if (bb == '>') depth -= 1
            // else: longer tag name sharing the prefix (e.g. </rowx>).
            else if (!skipToGt()) return false
          } else if (broke != '>' && !skipToGt()) return false
          // broke == '>': the tag completed inside the failed match (e.g.
          // child </ro> vs endTag </row>) — nothing left to skip.
        } else if (n == '!') {
          if (!skipSpecial()) return false
        } else if (n == '?') {
          if (!skipProcessingInstruction()) return false
        } else if (n == (startTag(1) & 0xff)) {
          // Candidate nested same-name open.
          var i = 2
          var matched = true
          var broke = 0
          while (matched && i < startTag.length) {
            val bb = readByte()
            if (bb == -1) return false
            recWrite(bb)
            if (bb != (startTag(i) & 0xff)) { matched = false; broke = bb } else i += 1
          }
          if (matched) {
            val delim = readByte()
            if (delim == -1) return false
            recWrite(delim)
            if (isTagDelimiter(delim)) {
              if (delim == '>') depth += 1
              else {
                finishOpenTag(delim) match {
                  case -1 => return false
                  case 0 => // nested self-closing: depth unchanged
                  case _ => depth += 1
                }
              }
            } else if (!skipToGt()) return false
          } else if (broke != '>' && !skipToGt()) return false
          // broke == '>': tag completed inside the failed match (e.g. child
          // <ro> vs rowTag <row>) — already closed, nothing to skip.
        } else if (!skipToGt()) return false
        }
      }
    }
    true
  }

  /**
   * In-buffer tag fast path, called with `<` already consumed and captured.
   * Peeks at the buffered bytes and, when the whole construct is visible and
   * unambiguous, consumes it in one bulk write and returns the depth delta
   * (-1 exact end tag, +1 row-tag open, 0 child tag / self-closing row tag).
   * Returns Int.MinValue WITHOUT consuming anything when the slow byte-wise
   * dispatch must run instead: construct crosses the buffer edge, carries
   * quotes (attribute values may hide `>`), is a comment/CDATA/PI, is an
   * end tag with whitespace before `>`, or is any malformed shape the slow
   * path has defined behavior for.
   */
  private def tryFastTag(): Int = {
    val avail = bufLen - bufPos
    if (avail <= 0) return Int.MinValue
    val first = buf(bufPos)
    if (first == '/') {
      // Exact end tag "</tag>"?
      val need = endTag.length - 1 // bytes after '<': "/tag>"
      if (avail < need) return Int.MinValue
      var i = 0
      var ok = true
      while (ok && i < need) {
        if (buf(bufPos + i) != endTag(i + 1)) ok = false else i += 1
      }
      if (ok) {
        recWrite(buf, bufPos, need); pos += need; bufPos += need
        return -1
      }
      if (i == need - 1) {
        // Name matched but the byte where '>' belongs differs: whitespace
        // there still closes the record ("</tag >") — slow path handles it.
        val nb = buf(bufPos + need - 1)
        if (nb == ' ' || nb == '\t' || nb == '\n' || nb == '\r') return Int.MinValue
      }
      // Child end tag: consume through its '>' if fully visible.
      var j = bufPos
      while (j < bufLen) {
        val c = buf(j)
        if (c == '>') {
          val len = j - bufPos + 1
          recWrite(buf, bufPos, len); pos += len; bufPos += len
          return 0
        }
        if (c == '"' || c == '\'' || c == '<') return Int.MinValue
        j += 1
      }
      return Int.MinValue
    }
    if (first == '!' || first == '?') return Int.MinValue
    // Open tag: consume through '>' when quote-free and fully visible.
    var j = bufPos
    while (j < bufLen) {
      val c = buf(j)
      if (c == '>') {
        if (j == bufPos) return Int.MinValue // "<>": slow path's domain
        val len = j - bufPos + 1
        val selfClosing = buf(j - 1) == '/'
        // Row tag iff the name equals rowTag and is followed by a delimiter.
        var isRow = false
        val nameLen = startTag.length - 1
        if (len - 1 >= nameLen) {
          var k = 0
          var ok = true
          while (ok && k < nameLen) {
            if (buf(bufPos + k) != startTag(k + 1)) ok = false else k += 1
          }
          if (ok) {
            val after = buf(bufPos + nameLen)
            isRow = after == '>' || after == ' ' || after == '\t' ||
              after == '\n' || after == '\r' || after == '/'
          }
        }
        recWrite(buf, bufPos, len); pos += len; bufPos += len
        return if (isRow && !selfClosing) 1 else 0
      }
      if (c == '"' || c == '\'' || c == '<') return Int.MinValue
      j += 1
    }
    Int.MinValue
  }

  /**
   * Consumes an open tag from just after its name to its closing `>`,
   * honoring quoted attribute values. `prev0` is the last byte already
   * consumed (matters for `<tag/>` where `/` was read as the delimiter).
   * Returns 1 for a normal open, 0 for a self-closing tag, -1 on EOF.
   */
  private def finishOpenTag(prev0: Int): Int = {
    var quote = 0 // 0 = none, else the active quote char
    var prev = prev0
    while (true) {
      val b = readByte()
      if (b == -1) return -1
      recWrite(b)
      if (quote != 0) {
        if (b == quote) quote = 0
      } else if (b == '"' || b == '\'') {
        quote = b
      } else if (b == '>') {
        return if (prev == '/') 0 else 1
      }
      prev = b
    }
    -1
  }

  /** Consumes through the next unquoted `>`. */
  private def skipToGt(): Boolean = {
    var quote = 0
    while (true) {
      val b = readByte()
      if (b == -1) return false
      if (capture) recWrite(b)
      if (quote != 0) {
        if (b == quote) quote = 0
      } else if (b == '"' || b == '\'') {
        quote = b
      } else if (b == '>') {
        return true
      }
    }
    false
  }

  /** After `<!`: comments (`<!-- … -->`), CDATA (`<![CDATA[ … ]]>`), other decls. */
  private def skipSpecial(): Boolean = {
    val b = readByte()
    if (b == -1) return false
    if (capture) recWrite(b)
    b match {
      case '-' => skipUntilRunThenGt('-', 2)
      case '[' => skipUntilRunThenGt(']', 2)
      case _ => skipToGt()
    }
  }

  /** Consumes through `?>`. */
  private def skipProcessingInstruction(): Boolean = {
    var prev = 0
    while (true) {
      val b = readByte()
      if (b == -1) return false
      if (capture) recWrite(b)
      if (b == '>' && prev == '?') return true
      prev = b
    }
    false
  }

  /**
   * Consumes bytes until a `>` immediately preceded by at least `n`
   * occurrences of `marker` (correctly handles overlaps like `]]]>`).
   */
  private def skipUntilRunThenGt(marker: Int, n: Int): Boolean = {
    var run = 0
    while (true) {
      val b = readByte()
      if (b == -1) return false
      if (capture) recWrite(b)
      if (b == marker) run += 1
      else if (b == '>' && run >= n) return true
      else run = 0
    }
    false
  }

  override def getCurrentKey: LongWritable = currentKey
  override def getCurrentValue: Text = currentValue
  override def getProgress: Float = {
    val cur = if (compressedPos != null) streamPos else pos
    if (splitEnd <= splitStart) 1.0f
    else math.min(1.0f, (cur - splitStart).toFloat / (splitEnd - splitStart).toFloat)
  }
  override def close(): Unit = {
    try if (in != null) in.close()
    finally if (decompressor != null) {
      CodecPool.returnDecompressor(decompressor)
      decompressor = null
    }
  }
}

/**
 * Decodes a byte stream in `from` (any JVM charset — UTF-16/32, EBCDIC, …)
 * and re-encodes it as UTF-8, so the byte state machine can scan encodings
 * whose structural characters are not single ASCII bytes. BOM and endianness
 * detection is the decoder's (e.g. "UTF-16" honors a leading BOM; a decoded
 * U+FEFF that survives is harmless — the scanner skips bytes outside tags).
 * A high surrogate at a read boundary is held back so pairs always encode
 * together.
 */
private[xml] final class TranscodingInputStream(in: InputStream, from: Charset)
    extends InputStream {

  private val reader = new java.io.InputStreamReader(in, from)
  private val chars = new Array[Char](8192)
  private var pending: Int = -1 // held-back high surrogate
  private var bytes: Array[Byte] = Array.emptyByteArray
  private var bp = 0

  private def refill(): Boolean = {
    var n = 0
    var start = 0
    if (pending >= 0) { chars(0) = pending.toChar; start = 1; pending = -1 }
    n = reader.read(chars, start, chars.length - start)
    if (n < 0) {
      if (start == 0) return false
      n = 0 // flush the held-back char alone at EOF
    }
    var len = start + n
    if (len > 0 && Character.isHighSurrogate(chars(len - 1)) && n > 0) {
      pending = chars(len - 1)
      len -= 1
      if (len == 0) return refill()
    }
    bytes = new String(chars, 0, len).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bp = 0
    bytes.length > 0 || refill()
  }

  override def read(): Int = {
    if (bp >= bytes.length && !refill()) return -1
    val b = bytes(bp) & 0xff
    bp += 1
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    if (bp >= bytes.length && !refill()) return -1
    val m = math.min(len, bytes.length - bp)
    System.arraycopy(bytes, bp, b, off, m)
    bp += m
    m
  }

  override def close(): Unit = reader.close()
}
