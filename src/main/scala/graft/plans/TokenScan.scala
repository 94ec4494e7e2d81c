package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.types.UTF8String

/** The one tokenizer behind every text kernel (stopword counts, language
  * ID, tf-idf, the LM score, the vocab fold, the tf profile and the
  * quality signals): a token is a maximal run of non-whitespace bytes,
  * lowered by one rule.
  *
  * Whitespace is Java regex `\s`, exactly [ \t\n\x0B\f\r]. All six are
  * ASCII and UTF-8 continuation bytes are ≥ 0x80, so delimiting on bytes
  * splits every input where `split("\\s+")` splits it.
  *
  * LOWERING: an all-ASCII token folds `A-Z` in place, with no
  * allocation; a token with a non-ASCII byte is decoded and lowered with
  * `String.toLowerCase(Locale.ROOT)`. That is DuckDB's `lower()` and the
  * Python reference's locale-independent `lower()`, whatever the JVM's
  * default locale (under `tr`, a default-locale `"IN".toLowerCase` is
  * `"ın"`). Case mappings never produce or consume whitespace, so
  * lowering each token equals lowering the whole text before splitting.
  */
object TokenScan {

  /** Java-regex `\s`: space or TAB..CR. Takes a byte or a char. */
  @inline def isWs(c: Int): Boolean = c == ' ' || (c >= 0x09 && c <= 0x0D)

  /** ASCII case fold: `A-Z` to `a-z`, every other byte or char as is. */
  @inline def fold(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

  /** One FNV-1a (32-bit) step over the byte `b`. */
  @inline def fnv(h: Int, b: Int): Int = (h ^ (b & 0xff)) * 16777619
  final val FnvBasis = -2128831035

  /** Non-negative FNV-1a hash of `a`. */
  def hash(a: Array[Byte]): Int = {
    var h = FnvBasis
    var i = 0
    while (i < a.length) { h = fnv(h, a(i)); i += 1 }
    h & 0x7fffffff
  }

  /** [[hash]] of the ASCII-folded bytes s[start, start+len). */
  def hashFolded(s: UTF8String, start: Int, len: Int): Int = {
    var h = FnvBasis
    var i = 0
    while (i < len) { h = fnv(h, fold(s.getByte(start + i))); i += 1 }
    h & 0x7fffffff
  }

  /** true iff `s` has a token (a non-whitespace byte). */
  def hasToken(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if (!isWs(s.getByte(i))) return true
      i += 1
    }
    false
  }

  /** Token cursor over `s`'s UTF-8 bytes. After `next()` returns true
    * the token is s[start, start+len); `lowered` is null for an ASCII
    * token (read it folded in place) and its ROOT-lowered bytes
    * otherwise. */
  final class Cursor(val s: UTF8String) {
    private val n = s.numBytes()
    private var i = 0
    var start = 0
    var len = 0
    var lowered: Array[Byte] = null

    def next(): Boolean = {
      while (i < n && isWs(s.getByte(i))) i += 1
      if (i == n) return false
      start = i
      var ascii = true
      while (i < n && !isWs(s.getByte(i))) {
        if (s.getByte(i) < 0) ascii = false
        i += 1
      }
      len = i - start
      lowered = if (ascii) null else {
        // UTF8String.substring is char-indexed: slice the bytes by hand
        val raw = new Array[Byte](len)
        var j = 0
        while (j < len) { raw(j) = s.getByte(start + j); j += 1 }
        new String(raw, UTF_8).toLowerCase(java.util.Locale.ROOT).getBytes(UTF_8)
      }
      true
    }
  }
}

/** Open-addressing map from a token's lowered UTF-8 bytes to a `Long`
  * payload: the one token table of the text kernels. It holds a
  * document's term frequencies ([[TokenTable.scan]]), a df or log-prob
  * vocabulary and a stopword or language-mask set
  * ([[TokenTable.of]]), and the vocab fold's partition buffer.
  *
  * A key is OWNED (its lowered bytes) or BORROWED: an ASCII token of the
  * text a [[TokenTable.scan]] table was filled from, kept as a byte range
  * and folded on compare, so the common path allocates nothing. Only the
  * scan borrows. [[add]] copies a borrowed key of another table the
  * first time it inserts it, so a table that outlives a document holds
  * owned keys only.
  *
  * Probing is linear from the FNV-1a hash, and the table doubles when
  * an insert-or-bump finds it half full. Iteration is slot order, so a
  * table filled from the same text always iterates in the same order;
  * lm_score's Σ tf·ln(p) follows it.
  */
final class TokenTable private (startCap: Int) extends Serializable {
  import TokenScan.{fold, hash, hashFolded}

  private var src: UTF8String = null // text the borrowed keys point into
  private var mask = startCap - 1
  private var owned = new Array[Array[Byte]](startCap)
  private var starts = new Array[Int](startCap)
  private var lens = new Array[Int](startCap) // 0 = empty slot
  private var hashes = new Array[Int](startCap)
  private var vals = new Array[Long](startCap)
  private var n = 0

  def size: Int = n
  def capacity: Int = lens.length
  def occupied(e: Int): Boolean = lens(e) != 0
  def value(e: Int): Long = vals(e)

  @inline private def entryByte(e: Int, j: Int): Int =
    if (owned(e) != null) owned(e)(j) else fold(src.getByte(starts(e) + j))

  def entryBytes(e: Int): Array[Byte] =
    if (owned(e) != null) owned(e)
    else Array.tabulate(lens(e))(j => entryByte(e, j).toByte)

  def entryString(e: Int): String = new String(entryBytes(e), UTF_8)

  /** (key, payload) pairs in slot order. */
  def pairs: Array[(String, Long)] =
    lens.indices.filter(occupied).map(e => (entryString(e), vals(e))).toArray

  /** Key order of a String sort: byte order equals `String.<` when both
    * keys are ASCII; a String compare otherwise. */
  def tokLess(a: Int, b: Int): Boolean =
    if (ascii(a) && ascii(b)) {
      val m = math.min(lens(a), lens(b))
      var j = 0
      while (j < m) {
        val ca = entryByte(a, j) & 0xff
        val cb = entryByte(b, j) & 0xff
        if (ca != cb) return ca < cb
        j += 1
      }
      lens(a) < lens(b)
    } else entryString(a).compareTo(entryString(b)) < 0

  private def ascii(e: Int): Boolean =
    owned(e) == null || owned(e).forall(_ >= 0)

  /** Slot of the key `kb`, or of the folded ASCII range ks[ko, ko+kl)
    * when `kb` is null; else the empty slot where it belongs. */
  private def slot(kb: Array[Byte], ks: UTF8String, ko: Int, kl: Int,
                   h: Int): Int = {
    var i = h & mask
    while (lens(i) != 0) {
      if (hashes(i) == h && lens(i) == kl) {
        var j = 0
        while (j < kl &&
          entryByte(i, j) == (if (kb != null) kb(j) else fold(ks.getByte(ko + j))))
          j += 1
        if (j == kl) return i
      }
      i = (i + 1) & mask
    }
    i
  }

  private def get(kb: Array[Byte], ks: UTF8String, ko: Int, kl: Int,
                  h: Int): Long = {
    val i = slot(kb, ks, ko, kl, h)
    if (lens(i) == 0) TokenTable.ABSENT else vals(i)
  }

  /** Payload of the cursor's current token; ABSENT if missing. */
  def get(c: TokenScan.Cursor): Long =
    if (c.lowered != null) get(c.lowered, null, 0, c.lowered.length, hash(c.lowered))
    else get(null, c.s, c.start, c.len, hashFolded(c.s, c.start, c.len))

  /** Payload of entry `e` of table `o`'s key; ABSENT if missing. */
  def get(o: TokenTable, e: Int): Long =
    get(o.owned(e), o.src, o.starts(e), o.lens(e), o.hashes(e))

  /** Adds `delta` to the key's payload, inserting the key at `delta`
    * when absent. A range of this table's own text is borrowed; a range
    * of any other text is copied. */
  private def put(kb: Array[Byte], ks: UTF8String, ko: Int, kl: Int, h: Int,
                  delta: Long): Unit = {
    if ((n + 1) * 2 > capacity) grow()
    val i = slot(kb, ks, ko, kl, h)
    if (lens(i) != 0) vals(i) += delta
    else {
      owned(i) =
        if (kb != null || (ks eq src)) kb
        else Array.tabulate(kl)(j => fold(ks.getByte(ko + j)).toByte)
      starts(i) = ko; lens(i) = kl; hashes(i) = h; vals(i) = delta
      n += 1
    }
  }

  /** Adds `delta` to the payload of entry `e` of table `o`'s key. */
  def add(o: TokenTable, e: Int, delta: Long): Unit =
    put(o.owned(e), o.src, o.starts(e), o.lens(e), o.hashes(e), delta)

  private def fill(s: UTF8String): Unit = {
    src = s
    val c = new TokenScan.Cursor(s)
    while (c.next()) {
      if (c.lowered != null) put(c.lowered, null, 0, c.lowered.length, hash(c.lowered), 1L)
      else put(null, s, c.start, c.len, hashFolded(s, c.start, c.len), 1L)
    }
  }

  private def grow(): Unit = {
    val oo = owned; val os = starts; val ol = lens; val oh = hashes; val ov = vals
    val cap = ol.length << 1
    mask = cap - 1
    owned = new Array[Array[Byte]](cap); starts = new Array[Int](cap)
    lens = new Array[Int](cap); hashes = new Array[Int](cap)
    vals = new Array[Long](cap)
    var e = 0
    while (e < ol.length) {
      if (ol(e) != 0) {
        var i = oh(e) & mask
        while (lens(i) != 0) i = (i + 1) & mask
        owned(i) = oo(e); starts(i) = os(e); lens(i) = ol(e)
        hashes(i) = oh(e); vals(i) = ov(e)
      }
      e += 1
    }
  }
}

object TokenTable {
  /** Sentinel for "key absent": outside doubleToRawLongBits' range of
    * real log-probs (NaN's bit pattern with a sign twist) and never a
    * count. */
  val ABSENT: Long = java.lang.Long.MIN_VALUE + 1

  private val StartCap = 64

  def empty: TokenTable = new TokenTable(StartCap)

  /** A document's distinct tokens, each with its term frequency. */
  def scan(s: UTF8String): TokenTable = {
    val t = empty
    t.fill(s)
    t
  }

  /** A read-only table of owned keys; the keys must already be lowered. */
  def of(entries: Iterable[(String, Long)]): TokenTable = {
    val n = entries.size
    val t = new TokenTable(math.max(8, Integer.highestOneBit(math.max(1, n)) << 2))
    entries.foreach { case (k, v) =>
      val kb = k.getBytes(UTF_8)
      require(kb.nonEmpty, "TokenTable: empty key")
      t.put(kb, null, 0, kb.length, TokenScan.hash(kb), v)
    }
    t
  }
}
