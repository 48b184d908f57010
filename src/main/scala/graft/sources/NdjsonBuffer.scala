package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.charset.StandardCharsets

/** Incremental NDJSON chunk reassembler — the semantics of the reference's
  * `NDJSON#parse_partial` (reference lib/ndjson.rb:10-35):
  *
  *  - input arrives as arbitrary byte chunks (`readpartial` boundaries can
  *    split a JSON object anywhere, including mid-token);
  *  - the text after the last `\n` is carried over to the next chunk, never
  *    emitted (lib/ndjson.rb:20-23);
  *  - complete lines that fail to parse (e.g. the truncated head of a stream
  *    joined mid-line) are silently dropped (lib/ndjson.rb:31-33) — the
  *    central error-tolerance contract;
  *  - blank lines are dropped; the bare `{}` heartbeat is a valid frame.
  *
  * The carry is held as BYTES, not text: `readpartial` boundaries can also
  * split a multi-byte UTF-8 character, and decoding each chunk independently
  * would turn the split character into replacement chars (corrupting the line
  * or making it drop as invalid JSON). `\n` (0x0A) never occurs inside a
  * UTF-8 multi-byte sequence (continuation bytes are ≥ 0x80), so splitting on
  * the byte is safe; decode happens only on complete lines.
  *
  * Mutable per-connection state, driver-side only (it backs the source's
  * chunk loop, not an executor path).
  *
  * The carry is bounded: a peer that never emits `\n` (malformed or
  * adversarial) would otherwise grow it without limit. Once the carry
  * exceeds `maxLineBytes` it is dropped and the rest of that record —
  * through its eventual terminating newline — is discarded too, mirroring
  * the line-level error-tolerance contract (an oversized record behaves
  * like an unparseable one). Parsing resumes cleanly at the next line.
  */
final class NdjsonBuffer(maxLineBytes: Int = NdjsonBuffer.DefaultMaxLineBytes) {
  require(maxLineBytes > 0, s"maxLineBytes must be positive, got $maxLineBytes")
  private var carry: Array[Byte] = Array.emptyByteArray
  private var discarding = false // inside an oversized record's tail

  /** Feed one raw byte chunk (the first `len` bytes); returns the complete,
    * valid JSON lines it completed. */
  def feedBytes(chunk: Array[Byte], len: Int): Seq[String] = {
    val buf = new Array[Byte](carry.length + len)
    System.arraycopy(carry, 0, buf, 0, carry.length)
    System.arraycopy(chunk, 0, buf, carry.length, len)
    val out = Seq.newBuilder[String]
    var start = 0
    var i = 0
    while (i < buf.length) {
      if (buf(i) == '\n') {
        if (discarding) discarding = false // oversized record's tail — drop
        else {
          val line = new String(buf, start, i - start, StandardCharsets.UTF_8).trim
          if (line.nonEmpty && NdjsonBuffer.isValidJson(line)) out += line
        }
        start = i + 1
      }
      i += 1
    }
    // text after the last '\n' is carried over, never emitted
    // (lib/ndjson.rb:20-23) — a chunk ending in '\n' leaves an empty carry.
    carry = java.util.Arrays.copyOfRange(buf, start, buf.length)
    if (discarding) carry = Array.emptyByteArray // still inside a dropped record
    else if (carry.length > maxLineBytes) {
      carry = Array.emptyByteArray
      discarding = true
    }
    out.result()
  }

  /** Feed one text chunk (tests / pre-decoded input). */
  def feed(chunk: String): Seq[String] = {
    val b = chunk.getBytes(StandardCharsets.UTF_8)
    feedBytes(b, b.length)
  }

  /** Text currently carried (incomplete trailing record; lossy if the carry
    * ends mid-character — inspection only, never re-fed). */
  def pending: String = new String(carry, StandardCharsets.UTF_8)
}

object NdjsonBuffer {
  /** Generous for webhook-sized JSON frames while still bounding a
    * newline-less stream to one buffer's worth of memory. */
  val DefaultMaxLineBytes: Int = 16 << 20 // 16 MiB

  private val mapper = new ObjectMapper()

  /** One whole JSON value and nothing after it — the line-level contract
    * both the live stream and batch replay keep. */
  def isValidJson(s: String): Boolean =
    try {
      val p = mapper.createParser(s)
      p.readValueAsTree()
      // a truncated head like `:"0"}` or `"a":"0"}` starts with a valid
      // token — require the parser to consume the whole line
      p.nextToken() == null
    } catch { case _: Exception => false }
}
