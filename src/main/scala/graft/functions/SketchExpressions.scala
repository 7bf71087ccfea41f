package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernels for the text-sketch algorithms (MinHash, LSH
  * band digests, winnowing, SimHash), shared by the eval and codegen
  * paths of the expressions below.
  *
  * Why native expressions and not the explode/agg/Window column
  * formulations in [[graft.ext.Dedup]] / [[graft.ext.TextOps]]: those
  * shapes materialize one row PER SHINGLE / TOKEN / K-GRAM POSITION and
  * push them through a hash aggregate (MinHash: k min-buffers per doc),
  * 63 conditional sums (SimHash), or a per-doc Window sort (winnowing —
  * a full shuffle of every k-gram hash in the corpus). The sketch of a
  * document is a row-local computation; these kernels run it in one
  * arrayless pass per row inside whole-stage codegen, so the signature
  * stage of a 100 TB dedup plans ZERO shuffles — the only remaining
  * exchange is the LSH band equi-join itself. Equivalence with the
  * column formulations is bit-exact (same xxhash64 seed-42 bytes),
  * proven per algorithm in SketchExprSpec.
  *
  * All hashing matches Spark's `xxhash64(...)` (XXH64, seed 42):
  *   - strings hash their UTF-8 bytes;
  *   - multi-argument calls chain: `hash_i = XXH64(arg_i, hash_{i-1})`.
  */
object SketchAlgos {

  private val Seed = 42L

  /** "#0".."#{MaxK-1}" salt suffixes, byte-identical to
    * `concat(shingle, lit(s"#$i"))` in [[graft.ext.Dedup.minhashSignature]]. */
  private val MaxK = 128
  private val saltSuffix: Array[Array[Byte]] =
    Array.tabulate(MaxK)(i => ("#" + i).getBytes("UTF-8"))

  /** Byte offset of each character start (plus the end sentinel), so a
    * shingle at char position p is the byte slice
    * [starts(p), starts(min(p+len, nChars))) — one O(bytes) pass instead
    * of an O(n) `substringSQL` boundary seek per position (which made
    * the kernels O(n^2) per document). UTF-8 continuation bytes are
    * exactly those matching 10xxxxxx. */
  private def charStarts(bytes: Array[Byte], nChars: Int): Array[Int] = {
    val starts = new Array[Int](nChars + 1)
    var c = 0
    var b = 0
    while (b < bytes.length) {
      if ((bytes(b) & 0xC0) != 0x80) { starts(c) = b; c += 1 }
      b += 1
    }
    starts(nChars) = bytes.length
    starts
  }

  /** Token starts of `split(text, " ")` (empties kept: k separators give
    * k+1 tokens) plus a virtual separator past the end, so token t is
    * the byte slice [starts(t), starts(t+1)-1) and the space-joined gram
    * of tokens [p, p+n) is the slice [starts(p), starts(p+n)-1) of the
    * text, separators included: grams hash, sort and compare without a
    * join allocation. Null when there are fewer than `minTok` tokens —
    * the count pass runs first, so a short document allocates nothing. */
  def tokenStarts(bytes: Array[Byte], minTok: Int): Array[Int] = {
    var nTok = 1
    var b = 0
    while (b < bytes.length) { if (bytes(b) == 0x20) nTok += 1; b += 1 }
    if (nTok < minTok) return null
    val starts = new Array[Int](nTok + 1)
    var t = 1
    b = 0
    while (b < bytes.length) {
      if (bytes(b) == 0x20) { starts(t) = b + 1; t += 1 }
      b += 1
    }
    starts(nTok) = bytes.length + 1
    starts
  }

  /** Start positions 0 until m of the n-token grams over [[tokenStarts]],
    * sorted by gram bytes compared unsigned (the UTF8String /
    * `array_sort` binary order), so equal grams are adjacent. */
  def sortedGrams(bytes: Array[Byte], starts: Array[Int], n: Int,
      m: Int): Array[Integer] = {
    val idx = new Array[Integer](m)
    var p = 0
    while (p < m) { idx(p) = Integer.valueOf(p); p += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val sa = starts(a.intValue); val ea = starts(a.intValue + n) - 1
        val sb = starts(b.intValue); val eb = starts(b.intValue + n) - 1
        var pa = sa; var pb = sb
        while (pa < ea && pb < eb) {
          val d = (bytes(pa) & 0xFF) - (bytes(pb) & 0xFF)
          if (d != 0) return d
          pa += 1; pb += 1
        }
        (ea - sa) - (eb - sb)
      }
    })
    idx
  }

  /** Byte equality of the n-token grams starting at tokens a and b. */
  def gramEq(bytes: Array[Byte], starts: Array[Int], n: Int, a: Int,
      b: Int): Boolean = {
    val la = starts(a + n) - 1 - starts(a)
    if (la != starts(b + n) - 1 - starts(b)) return false
    var pa = starts(a); var pb = starts(b)
    val ea = pa + la
    while (pa < ea) {
      if (bytes(pa) != bytes(pb)) return false
      pa += 1; pb += 1
    }
    true
  }

  /** MinHash signature: mins(i) = min over DISTINCT shingles of
    * xxhash64(shingle ++ "#i"). Positions replicate
    * `transform(sequence(1, greatest(len-(n-1), 1)), i => substr(i, n))`:
    * every char position gets a shingle; texts shorter than the shingle
    * length contribute themselves once (substr clamps). Duplicate
    * positions are skipped via an exact (byte-verified, linear-probe)
    * set keyed on the unsalted shingle hash — min over a bag equals min
    * over its set, and natural text repeats ~2x of its short shingles,
    * so dedup halves the k salted hashes, the dominant cost. */
  def minhashSig(text: UTF8String, k: Int, shingleLen: Int): Array[Long] = {
    require(k <= MaxK, s"k=$k exceeds supported max $MaxK")
    val nChars = text.numChars()
    val nPos = math.max(nChars - (shingleLen - 1), 1)
    val bytes = text.getBytes
    val set = new ShingleSet(bytes, charStarts(bytes, nChars), nChars,
      shingleLen, nPos)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    // shingle bytes + salt suffix share one buffer: the shingle is
    // written once per distinct shingle, only the suffix re-writes per i
    var buf = new Array[Byte](shingleLen * 4 + 8)
    var p = 0
    while (p < nPos) {
      if (set.add(p)) {
        val off = set.starts(p)
        val shLen = set.end(p) - off
        if (buf.length < shLen + 8) buf = new Array[Byte](shLen + 8)
        System.arraycopy(bytes, off, buf, 0, shLen)
        var i = 0
        while (i < k) {
          val suf = saltSuffix(i)
          System.arraycopy(suf, 0, buf, shLen, suf.length)
          val h = XXH64.hashUnsafeBytes(
            buf, Platform.BYTE_ARRAY_OFFSET, shLen + suf.length, Seed)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      p += 1
    }
    mins
  }

  def minhashSigData(text: UTF8String, k: Int, shingleLen: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(minhashSig(text, k, shingleLen))

  /** All positional L-char-window hashes: element i (0-based) =
    * `xxhash64(substring(text, i+1, L))` — bit-exact with the
    * `transform(sequence(1, len-L+1), i -> xxhash64(substring(text, i,
    * L)))` column formulation (UTF-8 byte slice of the char window,
    * seed 42), proven in SketchExprSpec. EMPTY array when fewer than L
    * chars (no full window — the callers' `length(text) >= L` guard).
    * Exists for `dedup_substring_suffix`: hashing 50×-corpus-bytes of
    * stride-1 windows as a substring+xxhash64 COLUMN pipeline is
    * exactly the dense-generated-code shape that pollutes shared
    * JIT profiles (BASELINE.md r18); this kernel is one row-local
    * call per doc. */
  def winHashData(text: UTF8String, l: Int): ArrayData = {
    val nChars = text.numChars()
    val n = nChars - l + 1
    if (n <= 0)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val bytes = text.getBytes
    val starts = charStarts(bytes, nChars)
    val hs = new Array[Long](n)
    var p = 0
    while (p < n) {
      val off = starts(p)
      val end = starts(p + l)
      hs(p) = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + off, end - off, Seed)
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(hs)
  }

  /** LSH band digests over a MinHash signature: band b hashes its r
    * consecutive signature longs exactly like the multi-argument
    * `xxhash64(mh_{br}, ..., mh_{br+r-1})` column — seed-chained. */
  def minhashBandsData(text: UTF8String, k: Int, bands: Int,
      shingleLen: Int): ArrayData = {
    val sig = minhashSig(text, k, shingleLen)
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Seed
      var j = b * r
      while (j < (b + 1) * r) { h = XXH64.hashLong(sig(j), h); j += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Winnowing fingerprints (MOSS): hash every k-gram position
    * (xxhash64, the same `substr` clamping as [[minhashSig]]), take the
    * min of each full sliding window of w consecutive hashes (monotonic
    * deque, O(n)), return the DISTINCT minima sorted ascending. Texts
    * with fewer than w k-gram positions have no full window -> empty
    * array. */
  def winnowData(text: UTF8String, k: Int, w: Int): ArrayData =
    winnowImpl(text, k, w, portable = false)

  private def winnowImpl(text: UTF8String, k: Int, w: Int,
      portable: Boolean): ArrayData = {
    val nPos = math.max(text.numChars() - (k - 1), 1)
    if (nPos < w) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val nChars = text.numChars()
    val bytes = text.getBytes
    val starts = charStarts(bytes, nChars)
    val hs = new Array[Long](nPos)
    var p = 0
    while (p < nPos) {
      val off = starts(p)
      val end = starts(math.min(p + k, nChars))
      hs(p) =
        if (portable) md5Prefix60(bytes, off, end - off)
        else XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + off, end - off, Seed)
      p += 1
    }
    val mins = new Array[Long](nPos - w + 1)
    val dq = new Array[Int](nPos) // deque of candidate indices, hs increasing
    var head = 0
    var tail = 0
    var j = 0
    while (j < nPos) {
      while (tail > head && hs(dq(tail - 1)) >= hs(j)) tail -= 1
      dq(tail) = j
      tail += 1
      if (dq(head) <= j - w) head += 1
      if (j >= w - 1) mins(j - (w - 1)) = hs(dq(head))
      j += 1
    }
    java.util.Arrays.sort(mins)
    var n = 0
    var i = 0
    while (i < mins.length) { // dedupe in place over the sorted minima
      if (i == 0 || mins(i) != mins(i - 1)) { mins(n) = mins(i); n += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(mins, n))
  }

  // ---- portable (md5/sha-prefix) hashing, for the *_portable oracle
  // twins: DuckDB recomputes these exactly, so the kernels below give
  // the NATIVE pipeline an independent cross-engine hash check ----

  private val md5TL = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val sha256TL = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("SHA-256"))
  private val hexDigits = "0123456789abcdef".toCharArray

  /** First 15 hex digits of md5 as a 60-bit long — bit-exact with
    * `conv(substring(md5(col AS BINARY), 1, 15), 16, 10)::LONG` and
    * DuckDB `('0x' || substring(md5(col), 1, 15))::BIGINT`: 15 nibbles
    * = the big-endian first 8 digest bytes shifted right one nibble. */
  def md5Prefix60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = md5TL.get()
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** Portable-hash MinHash over WORD n-grams — the shingle space for
    * corpora whose character-shingle space saturates (the synthetic
    * ~31-word vocabulary collides every doc pair under char-3
    * shingles; word 3-grams discriminate). mins(i) = min over all
    * n-token-gram occurrences of md5Prefix60(gram ++ "#i"): the min
    * over a multiset equals the min over its support, so no distinct
    * set is materialized (the SQL replay's `list_distinct` is
    * value-irrelevant to the mins). A gram IS the byte slice
    * [tokStart(p), tokStart(p+n)-1) of the text — tokens are
    * space-joined in place, so no gram strings are allocated. Docs
    * with fewer than n tokens return the EMPTY array (no full gram
    * fits): the caller's posexplode drops them, matching the SQL
    * replay where zero gram rows never reach the GROUP BY — returning
    * MaxValue mins instead would band-collide every gram-less doc
    * with every other. */
  def minhashWordsData(text: UTF8String, k: Int, n: Int): ArrayData = {
    require(k <= MaxK, s"k=$k must be <= $MaxK")
    val bytes = text.getBytes
    val tokStart = tokenStarts(bytes, n)
    if (tokStart == null)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val nTok = tokStart.length - 1
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val m = nTok - n + 1
    var buf = new Array[Byte](64)
    var p = 0
    while (p < m) {
      val off = tokStart(p)
      val gLen = tokStart(p + n) - 1 - off
      if (buf.length < gLen + 8) buf = new Array[Byte](gLen + 8)
      System.arraycopy(bytes, off, buf, 0, gLen)
      var i = 0
      while (i < k) {
        val suf = saltSuffix(i)
        System.arraycopy(suf, 0, buf, gLen, suf.length)
        val h = md5Prefix60(buf, 0, gLen + suf.length)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** One-permutation-hashing MinHash with rotation densification (Li,
    * Owen & Zhang NIPS'12; Shrivastava & Li ICML'14) over WORD n-grams:
    * ONE unsalted md5-prefix hash per gram occurrence, bin `h mod k`
    * competes for its min, and an empty bin j borrows the first
    * non-empty bin clockwise with a +t offset. Bit-exact with the
    * gram-explode column formulation (`conv(substring(md5(g),1,15),16,
    * 10)` → k conditional mins → coalesce chain) — the min over gram
    * OCCURRENCES equals the min over the distinct gram set, so no
    * distinct set is materialized. Docs with fewer than n tokens return
    * the EMPTY array (no gram rows ever reach the replay's GROUP BY).
    *
    * Why a kernel and not the column form: k conditional-min aggregates
    * over an exploded gram relation evaluate ONE md5 per gram but pay a
    * gram-row explode + hash-aggregate exchange, and — measured in the
    * r15/r17 bench incidents — the md5-dense generated code pollutes
    * the session JIT profile for every OTHER md5-calling entry in a
    * shared-session sweep. This kernel is one row-local call per doc:
    * zero extra rows, zero exchanges, one compiled method. */
  def minhashOphData(text: UTF8String, k: Int, n: Int): ArrayData = {
    require(k <= MaxK, s"k=$k must be <= $MaxK")
    val bytes = text.getBytes
    val tokStart = tokenStarts(bytes, n)
    if (tokStart == null)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val nTok = tokStart.length - 1
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue) // empty-bin sentinel;
    // md5Prefix60 < 2^60, so a real min never equals the sentinel
    val m = nTok - n + 1
    var p = 0
    while (p < m) {
      val off = tokStart(p)
      val h = md5Prefix60(bytes, off, tokStart(p + n) - 1 - off)
      val bin = (h % k).toInt // h is 60-bit nonnegative
      if (h < mins(bin)) mins(bin) = h
      p += 1
    }
    // rotation densification = the coalesce chain: first non-empty bin
    // clockwise from j, offset +t. At least one gram exists (m >= 1),
    // so the walk terminates within k steps.
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var d = 0
      while (mins((j + d) % k) == Long.MaxValue) d += 1
      out(j) = mins((j + d) % k) + d
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-document HyperLogLog registers (Flajolet et al. 2007) over
    * WORD n-grams with the portable md5-prefix hash: register j holds
    * max over grams with h mod m == j of rho(h div m), where rho = the
    * 1-based position of the leftmost 1-bit inside the remaining
    * (60 − log2 m) hash bits — i.e. `bits − bitlen(w) + 1`, and an
    * all-zero remainder scores bits+1. Registers merge across docs by
    * element-wise MAX, which is exactly what the caller's
    * posexplode + groupBy(source, pos).agg(max) does — HLL state is a
    * fixed m-length vector no matter the corpus, the whole point at
    * 100 TB. Bit-exact with the gram-explode column formulation
    * (`conv(substring(md5(g),1,15),16,10)` → `% m` / `div m` →
    * 55 − length(bin(w)) for m=64), proven in SketchExprSpec; the
    * DuckDB oracle replays that literal column form. Docs with fewer
    * than n tokens return the EMPTY array (no gram rows reach the
    * replay's GROUP BY); m must be a power of two. Same row-local
    * kernel rationale as [[minhashOphData]]: one md5 per gram inside
    * one compiled method — never an md5-dense exploded column (the
    * r15/r17/r18 JIT-pollution trap). */
  def hllRegsData(text: UTF8String, m: Int, n: Int): ArrayData = {
    require(m >= 2 && (m & (m - 1)) == 0, s"m=$m must be a power of 2")
    val bits = 60 - java.lang.Integer.numberOfTrailingZeros(m)
    val bytes = text.getBytes
    val tokStart = tokenStarts(bytes, n)
    if (tokStart == null)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val nTok = tokStart.length - 1
    val regs = new Array[Long](m)
    val gramCount = nTok - n + 1
    var p = 0
    while (p < gramCount) {
      val off = tokStart(p)
      val h = md5Prefix60(bytes, off, tokStart(p + n) - 1 - off)
      val bin = (h % m).toInt
      val w = h / m
      val rho =
        if (w == 0L) bits + 1
        else bits - (64 - java.lang.Long.numberOfLeadingZeros(w)) + 1
      if (rho > regs(bin)) regs(bin) = rho.toLong
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(regs)
  }

  /** Per-document k-minimum-values sketch (Bar-Yossef et al. 2002 /
    * the theta-sketch bottom-k family) over WORD n-grams: the k
    * smallest DISTINCT md5-prefix gram hashes, ascending. KMV sketches
    * merge by union-then-retake-k — any hash among the k smallest of a
    * union is among the k smallest of its own document, so the
    * caller's posexplode + per-key distinct + rank ≤ k reconstruction
    * is lossless. Fewer than k distinct grams returns them all (the
    * sketch is then EXACT and the k-th-value estimator degenerates
    * correctly on the caller side). Docs with fewer than n tokens
    * return the EMPTY array. Row-local kernel for the same JIT-hygiene
    * reason as [[hllRegsData]]. */
  def kminHashData(text: UTF8String, k: Int, n: Int): ArrayData = {
    val bytes = text.getBytes
    val tokStart = tokenStarts(bytes, n)
    if (tokStart == null)
      return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val nTok = tokStart.length - 1
    val gramCount = nTok - n + 1
    val hs = new Array[Long](gramCount)
    var p = 0
    while (p < gramCount) {
      val off = tokStart(p)
      hs(p) = md5Prefix60(bytes, off, tokStart(p + n) - 1 - off)
      p += 1
    }
    java.util.Arrays.sort(hs)
    var nDistinct = 0
    var i = 0
    while (i < gramCount && nDistinct < k) { // ascending → first k
      if (i == 0 || hs(i) != hs(i - 1)) { hs(nDistinct) = hs(i); nDistinct += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, nDistinct))
  }

  /** First 16 hex chars of sha256(s) — bit-exact with
    * `substring(sha2(s AS BINARY, 256), 1, 16)` / DuckDB
    * `substring(sha256(s), 1, 16)`. */
  private def sha256Prefix16(s: String): UTF8String = {
    val md = sha256TL.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xF)
      out(2 * i + 1) = hexDigits(d(i) & 0xF)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  /** Portable-hash MinHash + banded digests: mins over DISTINCT
    * shingles of md5Prefix60(shingle ++ "#i"); band j's digest is
    * sha256-prefix-16 of "mins(2j)_mins(2j+1)" (decimal concat — the
    * `concat_ws("_", mh, mh)` + `sha2` column layout). Output
    * array<string> of k/2 digests, band index = position. */
  def minhashPortableBandsData(text: UTF8String, k: Int,
      shingleLen: Int): ArrayData = {
    require(k <= MaxK && k % 2 == 0, s"k=$k must be even and <= $MaxK")
    val nChars = text.numChars()
    val nPos = math.max(nChars - (shingleLen - 1), 1)
    val bytes = text.getBytes
    val set = new ShingleSet(bytes, charStarts(bytes, nChars), nChars,
      shingleLen, nPos)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var buf = new Array[Byte](shingleLen * 4 + 8)
    var p = 0
    while (p < nPos) {
      if (set.add(p)) {
        val off = set.starts(p)
        val shLen = set.end(p) - off
        if (buf.length < shLen + 8) buf = new Array[Byte](shLen + 8)
        System.arraycopy(bytes, off, buf, 0, shLen)
        var i = 0
        while (i < k) {
          val suf = saltSuffix(i)
          System.arraycopy(suf, 0, buf, shLen, suf.length)
          val h = md5Prefix60(buf, 0, shLen + suf.length)
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      p += 1
    }
    val out = new Array[AnyRef](k / 2)
    var j = 0
    while (j < k / 2) {
      out(j) = sha256Prefix16(s"${mins(2 * j)}_${mins(2 * j + 1)}")
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Portable-hash winnowing: [[winnowData]]'s deque pipeline over the
    * md5-prefix k-gram hash. */
  def winnowPortableData(text: UTF8String, k: Int, w: Int): ArrayData =
    winnowImpl(text, k, w, portable = true)

  /** Portable-hash SimHash: [[simhash63]]'s vote/assemble over the
    * md5-prefix token hash (its top 3 bits are always clear, so bits
    * 60..62 vote -1 on every token — both engines reproduce that). */
  def simhash63Portable(tokens: ArrayData): Long =
    simhashImpl(tokens, portable = true)

  /** Exact distinct-shingle set over one text's byte array: the same
    * linear-probe + byte-verify table [[minhashSig]] uses, factored out
    * so [[jaccardShingles]] can probe one text's set with another's
    * shingles. Slot value = char position + 1 (0 = empty). */
  private final class ShingleSet(val bytes: Array[Byte], val starts: Array[Int],
      nChars: Int, shingleLen: Int, nPos: Int) {
    private val cap = Integer.highestOneBit(math.max(nPos * 2 - 1, 2)) << 1
    private val mask = cap - 1
    private val slotPos = new Array[Int](cap)
    private val slotHash = new Array[Long](cap)
    var distinctCount = 0

    @inline def end(p: Int): Int = starts(math.min(p + shingleLen, nChars))

    /** Adds the shingle at char position p; true if it was new. */
    def add(p: Int): Boolean = {
      val off = starts(p)
      val len = end(p) - off
      val h = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + off, len, Seed)
      var slot = (h & mask).toInt
      while (true) {
        val occ = slotPos(slot)
        if (occ == 0) {
          slotPos(slot) = p + 1; slotHash(slot) = h; distinctCount += 1
          return true
        }
        val q = occ - 1
        val qOff = starts(q)
        if (slotHash(slot) == h && end(q) - qOff == len &&
          java.util.Arrays.equals(bytes, qOff, qOff + len,
            bytes, off, off + len)) return false
        slot = (slot + 1) & mask
      }
      false // unreachable
    }

    /** Membership probe for a shingle living in ANOTHER text's bytes. */
    def contains(oBytes: Array[Byte], oOff: Int, oLen: Int, h: Long): Boolean = {
      var slot = (h & mask).toInt
      while (true) {
        val occ = slotPos(slot)
        if (occ == 0) return false
        val q = occ - 1
        val qOff = starts(q)
        if (slotHash(slot) == h && end(q) - qOff == oLen &&
          java.util.Arrays.equals(bytes, qOff, qOff + oLen,
            oBytes, oOff, oOff + oLen)) return true
        slot = (slot + 1) & mask
      }
      false // unreachable
    }
  }

  private def buildShingleSet(text: UTF8String, shingleLen: Int): ShingleSet = {
    val nChars = text.numChars()
    val nPos = math.max(nChars - (shingleLen - 1), 1)
    val bytes = text.getBytes
    val set = new ShingleSet(bytes, charStarts(bytes, nChars), nChars,
      shingleLen, nPos)
    var p = 0
    while (p < nPos) { set.add(p); p += 1 }
    set
  }

  /** n-gram Jaccard |A∩B| / (|A|+|B|-|A∩B|) over the distinct char
    * shingle sets of two texts, in one row-local pass — value-identical
    * to `size(array_intersect(shingles(a), shingles(b)))`-style column
    * algebra (exact integer counts, one correctly-rounded double
    * division), with zero array materialization. String equality is
    * UTF-8 byte equality in both engines. */
  def jaccardShingles(a: UTF8String, b: UTF8String, shingleLen: Int): Double = {
    val bSet = buildShingleSet(b, shingleLen)
    // walk A's positions, dedup against A's own set, probe B's for ∩
    val nChars = a.numChars()
    val nPos = math.max(nChars - (shingleLen - 1), 1)
    val bytes = a.getBytes
    val aSet = new ShingleSet(bytes, charStarts(bytes, nChars), nChars,
      shingleLen, nPos)
    var inter = 0
    var p = 0
    while (p < nPos) {
      if (aSet.add(p)) {
        val off = aSet.starts(p)
        val len = aSet.end(p) - off
        val h = XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + off, len, Seed)
        if (bSet.contains(bytes, off, len, h)) inter += 1
      }
      p += 1
    }
    inter.toDouble / (aSet.distinctCount + bSet.distinctCount - inter)
  }

  /** Per-document token statistics in ONE row-local pass — the integer
    * moments every quality filter derives its ratios from: token count,
    * summed char length, distinct-token count, max term frequency, and
    * stopword occurrence count. Split semantics replicate
    * `split(text, " ")` with Java's limit=-1: single-space separators,
    * empty tokens KEPT ("a  b" -> [a, "", b]; "" -> [""]). Tokenizing,
    * TF counting, and the moments happen in the same exact
    * (byte-verified) linear-probe table the shingle kernels use, so a
    * quality score at 100 TB never shuffles a token — the explode +
    * per-(doc, term) count + per-doc re-aggregate formulation shuffles
    * the entire tokenized corpus TWICE for what is per-row math. */
  def tokenStats(text: UTF8String,
      stopwords: Array[Array[Byte]]): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    var nTokens = 1 // k separators -> k+1 tokens, empties included
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nTokens += 1; i += 1 }
    val cap = Integer.highestOneBit(math.max(nTokens * 2 - 1, 2)) << 1
    val mask = cap - 1
    val slotOff = new Array[Int](cap) // token byte offset + 1 (0 = empty)
    val slotLen = new Array[Int](cap)
    val slotHash = new Array[Long](cap)
    val slotCount = new Array[Int](cap)
    val slotStop = new Array[Boolean](cap)
    var sumLen = 0L
    var nUniq = 0L
    var nStop = 0L
    var maxC = 0L
    var start = 0
    var p = 0
    while (p <= bytes.length) {
      if (p == bytes.length || bytes(p) == 0x20) {
        val len = p - start
        var chars = 0
        var j = start
        while (j < p) { if ((bytes(j) & 0xC0) != 0x80) chars += 1; j += 1 }
        sumLen += chars
        val h = XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + start, len, Seed)
        var slot = (h & mask).toInt
        var probing = true
        while (probing) {
          if (slotOff(slot) == 0) {
            slotOff(slot) = start + 1
            slotLen(slot) = len
            slotHash(slot) = h
            slotCount(slot) = 1
            nUniq += 1
            var s = 0
            while (s < stopwords.length && !slotStop(slot)) {
              val sw = stopwords(s)
              if (sw.length == len && java.util.Arrays.equals(
                  bytes, start, start + len, sw, 0, len)) slotStop(slot) = true
              s += 1
            }
            probing = false
          } else if (slotHash(slot) == h && slotLen(slot) == len &&
              java.util.Arrays.equals(bytes, slotOff(slot) - 1,
                slotOff(slot) - 1 + len, bytes, start, start + len)) {
            slotCount(slot) += 1
            probing = false
          } else slot = (slot + 1) & mask
        }
        start = p + 1
      }
      p += 1
    }
    i = 0
    while (i < cap) {
      if (slotOff(i) != 0) {
        if (slotCount(i) > maxC) maxC = slotCount(i)
        if (slotStop(i)) nStop += slotCount(i)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens.toLong, sumLen, nUniq, maxC, nStop))
  }

  /** Hashed bag-of-words linear classifier score in ONE row-local pass
    * — struct<n_tokens, score_raw> with the EXACT semantics of the
    * `quality_classifier_score` column formulation it replaces: for
    * every NON-EMPTY space-separated token, bucket =
    * md5Prefix60(token) mod 1024 (the hashing trick — the vocabulary
    * never materializes) and weight = (bucket · 2654435761) mod 2²⁰ −
    * 2¹⁹ (a Knuth multiplicative mix standing in for learned weights);
    * score_raw = Σ weights, n_tokens = the non-empty token count.
    * Bit-exact vs `aggregate(tokens, 0L, acc + weight(md5(w)))`
    * (SketchExprSpec). Row-local kernel for the same JIT-hygiene
    * reason as [[minhashOphData]]: the HOF-aggregate form inlines one
    * md5 COLUMN evaluation per token into generated code — the
    * r15/r17/r18 md5-dense pollution shape — where this is one
    * compiled method call per document. */
  def bowScoreData(
      text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    var nTokens = 0L
    var score = 0L
    var start = 0
    var p = 0
    while (p <= bytes.length) {
      if (p == bytes.length || bytes(p) == 0x20) {
        if (p > start) { // skip empty tokens: the column form filters ''
          nTokens += 1
          val bucket = md5Prefix60(bytes, start, p - start) % 1024L
          score += (bucket * 2654435761L) % 1048576L - 524288L
        }
        start = p + 1
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, score))
  }

  /** Poisson(1) bootstrap-replica weights in ONE row-local pass —
    * array<long> of `b` weights, replica i drawn by inverse-CDF on the
    * uniform u_i = md5Prefix60(key ++ ":" ++ i) mod 10⁹ against the
    * cumulative-Poisson(1) thresholds in exact ppb (floor of
    * e⁻¹·Σ 1/j! · 10⁹; weights capped at 6 — P(X ≥ 7) < 10⁻⁴ is below
    * the ppb lattice anyway). The draw is a pure function of (key, i),
    * so a bootstrap at 100 TB needs no RNG state, no sampling shuffle,
    * and replays bit-identically in any engine that can md5 a string
    * (the DuckDB oracle recomputes the exact column form). Row-local
    * kernel, not an exploded md5 column, for the same JIT-hygiene
    * reason as [[minhashOphData]] — B md5 calls per row stay inside one
    * compiled method. */
  def bootPoisData(key: UTF8String, b: Int): ArrayData = {
    val keyBytes = key.getBytes
    var buf = new Array[Byte](keyBytes.length + 12)
    System.arraycopy(keyBytes, 0, buf, 0, keyBytes.length)
    val out = new Array[Long](b)
    var i = 0
    while (i < b) {
      val suffix = (":" + i).getBytes("UTF-8")
      if (buf.length < keyBytes.length + suffix.length) {
        buf = java.util.Arrays.copyOf(buf, keyBytes.length + suffix.length)
      }
      System.arraycopy(suffix, 0, buf, keyBytes.length, suffix.length)
      val u = md5Prefix60(buf, 0, keyBytes.length + suffix.length) %
        1000000000L
      out(i) =
        if (u < 367879441L) 0L
        else if (u < 735758882L) 1L
        else if (u < 919698602L) 2L
        else if (u < 981011843L) 3L
        else if (u < 996340153L) 4L
        else if (u < 999405815L) 5L
        else 6L
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 63-bit SimHash over a token array: per bit, +1 for tokens whose
    * xxhash64 has the bit set, -1 otherwise; the fingerprint sets bit i
    * when the sum is >= 0 (the `when(s >= 0, ...)` tie rule of
    * [[graft.ext.TextOps.assembleSimhash]]). A null token votes -1 on
    * every bit, matching `when(null_hash & bit =!= 0, 1).otherwise(-1)`. */
  def simhash63(tokens: ArrayData): Long = simhashImpl(tokens, portable = false)

  private def simhashImpl(tokens: ArrayData, portable: Boolean): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](63)
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) {
        var b = 0
        while (b < 63) { votes(b) -= 1; b += 1 }
      } else {
        val tok = tokens.getUTF8String(i)
        val th =
          if (portable) { val tb = tok.getBytes; md5Prefix60(tb, 0, tb.length) }
          else XXH64.hashUTF8String(tok, Seed)
        var b = 0
        while (b < 63) {
          if (((th >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 63) { if (votes(b) >= 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Base for the string-sketch expressions: string in, array<long> out,
  * one static-kernel call in both eval and codegen (the call compiles
  * into the whole-stage-generated class; the kernel is a plain static
  * method, so the hot loop JITs like handwritten Java). */
abstract class StringSketchExpression extends UnaryExpression {
  protected def kernelCall(c: String): String

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column, got $t")
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, kernelCall)
}

/** `minhash_sig(text, k, shingleLen)` — array<long> of k MinHash values,
  * bit-exact with [[graft.ext.Dedup.minhashSignature]]'s mh0..mh{k-1}. */
case class MinHashSig(child: Expression, k: Int, shingleLen: Int)
    extends StringSketchExpression {
  override def prettyName: String = "minhash_sig"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.minhashSigData($c, $k, $shingleLen)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.minhashSigData(input.asInstanceOf[UTF8String], k, shingleLen)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_bands(text, k, bands, shingleLen)` — array<long> of `bands`
  * LSH band digests, bit-exact with [[graft.ext.Dedup.bandHashes]] over
  * the matching signature (band index = array position). */
case class MinHashBands(child: Expression, k: Int, bands: Int, shingleLen: Int)
    extends StringSketchExpression {
  require(k % bands == 0, s"k=$k not divisible by bands=$bands")
  override def prettyName: String = "minhash_bands"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.minhashBandsData($c, $k, $bands, $shingleLen)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.minhashBandsData(input.asInstanceOf[UTF8String], k, bands, shingleLen)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_fps(text, k, w)` — the distinct winnowing fingerprints,
  * sorted ascending; empty array when no full window exists. Values
  * bit-exact with [[graft.ext.Dedup.winnowFingerprints]] (xxhash64 path). */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends StringSketchExpression {
  override def prettyName: String = "winnow_fps"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.winnowData($c, $k, $w)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.winnowData(input.asInstanceOf[UTF8String], k, w)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `token_stats(text, stopCsv)` — one-pass per-document token moments
  * struct<n_tokens, sum_len, n_uniq, max_c, n_stop> (all long); the
  * ratio/round math that quality filters apply on top stays in plain
  * column expressions, so entries derived from these integers are
  * value-identical to the explode + double-groupBy formulation
  * (SketchExprSpec). */
case class TokenStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  private lazy val stopBytes: Array[Array[Byte]] =
    stopwords.map(_.getBytes("UTF-8")).toArray

  override def prettyName: String = "token_stats"
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_tokens", "sum_len", "n_uniq", "max_c", "n_stop").map(
      org.apache.spark.sql.types.StructField(_, LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_stats expects a string column, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.tokenStats(input.asInstanceOf[UTF8String], stopBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("stopWords", stopBytes, "byte[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchAlgos.tokenStats($c, $stopRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bow_score_md5(text)` — struct<n_tokens, score_raw> hashed
  * bag-of-words classifier score over non-empty space-separated
  * tokens, bit-exact with the HOF-aggregate column formulation (see
  * [[SketchAlgos.bowScoreData]]). */
case class BowScoreMd5(child: Expression) extends UnaryExpression {
  override def prettyName: String = "bow_score_md5"
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("n_tokens", "score_raw").map(
      org.apache.spark.sql.types.StructField(_, LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bow_score_md5 expects a string column, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.bowScoreData(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchAlgos.bowScoreData($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `boot_pois_md5(key, b)` — array<long> of b deterministic Poisson(1)
  * bootstrap weights for this row, replica i keyed by
  * md5(key ++ ":" ++ i) (see [[SketchAlgos.bootPoisData]]). */
case class BootPoisMd5(child: Expression, b: Int)
    extends StringSketchExpression {
  require(b >= 1, s"b=$b must be >= 1")
  override def prettyName: String = "boot_pois_md5"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.bootPoisData($c, $b)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.bootPoisData(input.asInstanceOf[UTF8String], b)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_bands_md5(text, k, shingleLen)` — array<string> of k/2
  * portable (md5-prefix minhash, sha256-prefix digest) LSH band
  * digests; the cross-engine-checkable twin of [[MinHashBands]]. */
case class MinHashBandsPortable(child: Expression, k: Int, shingleLen: Int)
    extends StringSketchExpression {
  override def prettyName: String = "minhash_bands_md5"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.minhashPortableBandsData($c, $k, $shingleLen)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.minhashPortableBandsData(
      input.asInstanceOf[UTF8String], k, shingleLen)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_words_md5(text, k, n)` — array<long> of k portable
  * (md5-prefix) MinHash values over WORD n-grams; empty array when
  * fewer than n tokens (see [[SketchAlgos.minhashWordsData]]). */
case class MinHashWordsPortable(child: Expression, k: Int, n: Int)
    extends StringSketchExpression {
  override def prettyName: String = "minhash_words_md5"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.minhashWordsData($c, $k, $n)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.minhashWordsData(input.asInstanceOf[UTF8String], k, n)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `win_hash_x64(text, L)` — array<long> of every L-char window's
  * xxhash64 (position = array index), bit-exact with the
  * substring-per-position column formulation; empty array when fewer
  * than L chars (see [[SketchAlgos.winHashData]]). */
case class WinHashX64(child: Expression, l: Int)
    extends StringSketchExpression {
  override def prettyName: String = "win_hash_x64"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.winHashData($c, $l)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.winHashData(input.asInstanceOf[UTF8String], l)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_oph_md5(text, k, n)` — array<long> of k rotation-densified
  * one-permutation-hashing minhash values over WORD n-grams (ONE
  * unsalted md5-prefix hash per gram); empty array when fewer than n
  * tokens (see [[SketchAlgos.minhashOphData]]). */
case class MinHashOphPortable(child: Expression, k: Int, n: Int)
    extends StringSketchExpression {
  override def prettyName: String = "minhash_oph_md5"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.minhashOphData($c, $k, $n)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.minhashOphData(input.asInstanceOf[UTF8String], k, n)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `hll_regs_md5(text, m, n)` — array<long> of m HyperLogLog registers
  * over WORD n-grams of the portable md5-prefix hash; empty array when
  * fewer than n tokens (see [[SketchAlgos.hllRegsData]]). */
case class HllRegsPortable(child: Expression, m: Int, n: Int)
    extends StringSketchExpression {
  override def prettyName: String = "hll_regs_md5"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.hllRegsData($c, $m, $n)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.hllRegsData(input.asInstanceOf[UTF8String], m, n)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `kmin_hash_md5(text, k, n)` — array<long> of the k smallest distinct
  * md5-prefix WORD-n-gram hashes, ascending; empty array when fewer
  * than n tokens (see [[SketchAlgos.kminHashData]]). */
case class KminHashPortable(child: Expression, k: Int, n: Int)
    extends StringSketchExpression {
  override def prettyName: String = "kmin_hash_md5"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.kminHashData($c, $k, $n)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.kminHashData(input.asInstanceOf[UTF8String], k, n)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_fps_md5(text, k, w)` — [[WinnowFps]] over the portable
  * md5-prefix k-gram hash. */
case class WinnowFpsPortable(child: Expression, k: Int, w: Int)
    extends StringSketchExpression {
  override def prettyName: String = "winnow_fps_md5"
  override protected def kernelCall(c: String): String =
    s"graft.functions.SketchAlgos.winnowPortableData($c, $k, $w)"
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.winnowPortableData(input.asInstanceOf[UTF8String], k, w)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash63_md5(tokens)` — [[SimHash63]] over the portable md5-prefix
  * token hash. */
case class SimHash63Portable(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash63_md5"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash63_md5 expects array<string>, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.simhash63Portable(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchAlgos.simhash63Portable($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `jaccard_shingles(a, b, n)` — n-gram Jaccard similarity of two texts
  * over their distinct char-shingle sets, value-identical to the
  * `array_intersect`/`array_distinct` column algebra (SketchExprSpec)
  * without materializing either array. */
case class JaccardShingles(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def prettyName: String = "jaccard_shingles"
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_shingles expects two string columns, got ($l, $r)")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchAlgos.jaccardShingles(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SketchAlgos.jaccardShingles($a, $b, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `simhash63(tokens)` — 63-bit SimHash fingerprint of a token array,
  * bit-exact with the explode + 63-conditional-sums formulation in
  * [[graft.ext.TextOps]] (proven in SketchExprSpec). */
case class SimHash63(child: Expression) extends UnaryExpression {
  override def prettyName: String = "simhash63"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash63 expects array<string>, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    SketchAlgos.simhash63(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchAlgos.simhash63($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass kernel for the Gopher repetition signals (Rae et al.
  * 2021, arXiv:2112.11446 §A1.1): for each n in {2,3,4,5,10}, the
  * characters covered by the most frequent token n-gram (count ties →
  * lexicographically smallest gram) and the extra characters of
  * duplicate n-grams (chars(g)·(c−1) summed over c>1).
  *
  * Value-identical to the column algebra in [[graft.ext.TextOps]]
  * (`topGramChars`/`dupGramExtraChars` over `tokenNgrams`, proven in
  * SketchExprSpec) but ONE pass per row: the column form builds seven
  * gram arrays per document (each gram a fresh string), array_sorts
  * each, and folds them through interpreted higher-order lambdas —
  * measured 60 s for 5 000 small docs at sf0.1, ~500× this kernel.
  * Grams are compared as byte sequences (= UTF8String/array_sort
  * binary order) and never concatenated; gram char lengths come from
  * token-char prefix sums. */
object RepStatsAlgo {

  /** The Gopher n set; output array is [top_n, dup_n] per n, flattened. */
  val Ns: Array[Int] = Array(2, 3, 4, 5, 10)

  def repStatsData(text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(repStats(text))

  def repStats(text: UTF8String): Array[Long] = {
    val bytes = text.getBytes
    val tokStart = SketchAlgos.tokenStarts(bytes, 0)
    val nTok = tokStart.length - 1
    // char-count prefix sums: chars of token t = charPre(t+1) - charPre(t)
    val charPre = new Array[Int](nTok + 1)
    var t = 0
    while (t < nTok) {
      val end = tokStart(t + 1) - 1
      var c = 0
      var b = tokStart(t)
      while (b < end) { if ((bytes(b) & 0xC0) != 0x80) c += 1; b += 1 }
      charPre(t + 1) = charPre(t) + c
      t += 1
    }
    val out = new Array[Long](Ns.length * 2)
    var ni = 0
    while (ni < Ns.length) {
      val n = Ns(ni)
      if (nTok >= n) {
        val m = nTok - n + 1
        val idx = SketchAlgos.sortedGrams(bytes, tokStart, n, m)
        def gramChars(p: Int): Long =
          (charPre(p + n) - charPre(p)) + (n - 1).toLong
        def gramEq(a: Int, b: Int): Boolean =
          SketchAlgos.gramEq(bytes, tokStart, n, a, b)
        // one walk over the sorted grams: equal grams are adjacent, so
        // runs are count groups; strict > keeps the FIRST longest run,
        // which in sorted order IS the lexicographically smallest gram
        // with the max count (the oracle's rank(c DESC, gram ASC) = 1)
        var bestRun = 0
        var bestChars = 0L
        var dupExtra = 0L
        var p = 0
        while (p < m) {
          var q = p + 1
          while (q < m && gramEq(idx(p).intValue, idx(q).intValue)) q += 1
          val run = q - p
          val chars = gramChars(idx(p).intValue)
          if (run > bestRun) { bestRun = run; bestChars = chars * run }
          if (run > 1) dupExtra += chars * (run - 1)
          p = q
        }
        out(ni * 2) = bestChars
        out(ni * 2 + 1) = dupExtra
      }
      ni += 1
    }
    out
  }
}

/** `rep_stats(text)` — array<long> of [top_n_chars, dup_n_extra_chars]
  * for n in 2,3,4,5,10 (array positions 1..10 in SQL `element_at`
  * terms: top2,dup2,top3,dup3,top4,dup4,top5,dup5,top10,dup10). */
case class RepStats(child: Expression) extends StringSketchExpression {
  override def prettyName: String = "rep_stats"
  override protected def kernelCall(c: String): String =
    s"graft.functions.RepStatsAlgo.repStatsData($c)"
  override def nullSafeEval(input: Any): Any =
    RepStatsAlgo.repStatsData(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Row-local kernel for INTRA-document repeated-span removal — the
  * curation transform that drops self-repetition the inter-document
  * dedup layers never see (`doc_repetition_stats` measures it, Rae et
  * al. 2021 §A1.1; this removes it). Semantics, exact and
  * deterministic: a k-gram occurrence starting at position p is a
  * DUPLICATE iff the same k-token gram starts at some earlier position
  * p' < p in the same document; a token is dropped iff any duplicate
  * occurrence's window [p, p+k-1] covers it. First occurrence kept
  * whole, every later occurrence removed whole; overlapping duplicate
  * windows merge naturally ("a b c a b c a b c" at k=3 keeps exactly
  * "a b c").
  *
  * One pass per row, no gram strings materialized: a k-gram is a
  * [[SketchAlgos.tokenStarts]] byte slice of the text, duplicate runs
  * are found by [[SketchAlgos.sortedGrams]] (O(m log m)), coverage by
  * a single rolling sweep. The naive formulation — explode tokens, window over
  * (doc_id, gram) for first positions, range-window for coverage —
  * is what the DuckDB oracle runs; at 100 TB it would shuffle the
  * tokenized corpus twice where this kernel shuffles nothing. */
object StripSpansAlgo {

  def stripData(text: UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes
    val tokStart = SketchAlgos.tokenStarts(bytes, 0)
    val nTok = tokStart.length - 1
    def token(t0: Int): UTF8String = UTF8String.fromBytes(
      bytes, tokStart(t0), tokStart(t0 + 1) - 1 - tokStart(t0))
    if (nTok < k) { // no full window fits: nothing can repeat
      val all = new Array[Any](nTok)
      var j = 0
      while (j < nTok) { all(j) = token(j); j += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(all)
    }
    val m = nTok - k + 1
    val idx = SketchAlgos.sortedGrams(bytes, tokStart, k, m)
    def gramEq(a: Int, b: Int): Boolean =
      SketchAlgos.gramEq(bytes, tokStart, k, a, b)
    // equal grams are adjacent after the sort; in each run, every
    // occurrence except the EARLIEST start position is a duplicate
    val dup = new Array[Boolean](m)
    var p = 0
    while (p < m) {
      var q = p + 1
      while (q < m && gramEq(idx(p).intValue, idx(q).intValue)) q += 1
      if (q - p > 1) {
        var minPos = idx(p).intValue
        var r = p + 1
        while (r < q) {
          if (idx(r).intValue < minPos) minPos = idx(r).intValue
          r += 1
        }
        r = p
        while (r < q) {
          val pos = idx(r).intValue
          if (pos != minPos) dup(pos) = true
          r += 1
        }
      }
      p = q
    }
    // rolling coverage sweep: token i is dropped iff some duplicate
    // window started in [i-k+1, i]
    val kept = new Array[AnyRef](nTok)
    var nKept = 0
    var lastDup = Int.MinValue / 2
    var i = 0
    while (i < nTok) {
      if (i < m && dup(i)) lastDup = i
      if (lastDup < i - k + 1) { kept(nKept) = token(i); nKept += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(kept, nKept).asInstanceOf[Array[Any]])
  }
}

/** `strip_repeated_spans(text, k)` — array<string> of the tokens kept
  * after removing every token covered by a repeated k-token span (see
  * [[StripSpansAlgo]] for the exact first-occurrence-wins semantics).
  * `n_removed = size(split(text,' ')) - size(result)`; the cleaned
  * text is `array_join(result, ' ')`. */
case class StripRepeatedSpans(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, "strip_repeated_spans: k must be >= 1")
  override def prettyName: String = "strip_repeated_spans"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"strip_repeated_spans expects a string column, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    StripSpansAlgo.stripData(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.StripSpansAlgo.stripData($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
