package graft.geo

/**
 * Text primitives: the reference's full-text helpers re-expressed
 * (trigram prep: /root/reference/ru_address/common.py:11-19; keyword
 * normalisation: common.py:21-24) plus the training-data-pipeline text
 * algorithms (shingles, MinHash, SimHash, rolling-hash fingerprint,
 * language-ID heuristic, token counting, quality scoring).
 */
object TextAlgos {

  /** Reference semantics (common.py:11-19): pad with filler on both sides,
    * slide an n-window over len(padded) - len(filler) positions, space-join.
    * build_ngrams("кот") == "__к _ко кот от_ т__". */
  def buildNgrams(keyword: String, n: Int = 3, filler: String = "__"): String = {
    val padded = filler + keyword + filler
    val count = padded.length - filler.length
    val sb = new StringBuilder
    var i = 0
    while (i < count) {
      if (i > 0) sb.append(' ')
      sb.append(padded.substring(i, math.min(i + n, padded.length)))
      i += 1
    }
    sb.toString
  }

  private val ClearRegex = "[\\s\"'.,()\\-_\\\\/]".r

  /** Reference semantics (common.py:21-24): replace separator chars with '_',
    * lowercase. */
  def clearKeyword(keyword: String): String =
    ClearRegex.replaceAllIn(keyword, "_").toLowerCase

  /** Character n-gram shingles (distinct) for Jaccard similarity. */
  def shingles(text: String, n: Int): Set[String] = {
    if (text.length < n) return if (text.isEmpty) Set.empty else Set(text)
    val out = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i + n <= text.length) { out += text.substring(i, i + n); i += 1 }
    out.toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val inter = a.intersect(b).size
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Distinct FNV-64 hashes of the character n-gram shingles, SORTED — the
    * per-document form of `shingles`: computed once per doc, pair-level
    * Jaccard then reduces to an allocation-free sorted-merge intersection
    * (`jaccardSorted`). Semantics match `shingles`+`jaccard` up to 64-bit
    * hash collisions (~1e-14 per 300-shingle doc). */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    if (text.isEmpty) return Array.empty
    if (text.length < n) return Array(fnv1a64(text))
    val out = new Array[Long](text.length - n + 1)
    var i = 0
    while (i + n <= text.length) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + n) { h ^= text.charAt(j).toLong; h *= 0x100000001b3L; j += 1 }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    // dedupe in place (sorted)
    var w = 0
    i = 0
    while (i < out.length) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  /** Jaccard of two SORTED distinct long arrays by merge-count. */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** 64-bit FNV-1a — stable cross-run hash used by MinHash/SimHash/fingerprint. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** MinHash signature over character shingles: numHashes independent
    * permutations via (a*h + b) with seeded odd multipliers. */
  def minHash(text: String, shingleN: Int, numHashes: Int, seed: Long = 42L): Array[Long] = {
    val sh = shingles(text, shingleN)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (sh.isEmpty) return sig
    val params = Array.tabulate(numHashes) { i =>
      val a = Rng.splitmix64(seed + 2L * i) | 1L
      val b = Rng.splitmix64(seed + 2L * i + 1)
      (a, b)
    }
    for (s <- sh) {
      val h = fnv1a64(s)
      var i = 0
      while (i < numHashes) {
        val v = params(i)._1 * h + params(i)._2
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** LSH band keys from a MinHash signature: signature split into bands,
    * each band hashed to a bucket key (band index mixed in). */
  def lshBands(sig: Array[Long], bands: Int): Array[Long] = {
    // a non-divisible split would silently drop trailing hashes (weakened
    // bands), and bands > |sig| would give rows = 0 — every doc gets the
    // SAME constant band keys, i.e. a full-corpus cross join
    require(bands >= 1 && sig.length >= bands && sig.length % bands == 0,
      s"numHashes ${sig.length} must be a positive multiple of bands $bands")
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rows) {
        h ^= sig(b * rows + r)
        h *= 0x100000001b3L
        r += 1
      }
      h
    }
  }

  /** 64-bit SimHash over whitespace tokens. */
  def simHash(text: String): Long = {
    val counts = new Array[Int](64)
    for (tok <- tokenize(text)) {
      val h = fnv1a64(tok)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Polynomial rolling-hash document fingerprint (base 257, mod 2^64). */
  def rollingFingerprint(text: String): Long = {
    var h = 0L
    var i = 0
    while (i < text.length) {
      h = h * 257L + text.charAt(i).toLong
      i += 1
    }
    h
  }

  def tokenize(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  def tokenCount(text: String): Int = tokenize(text).length

  /** BPE-ish sub-word token estimate: word-boundary regex pieces, with long
    * words contributing ceil(len/4) sub-tokens. */
  def bpeTokenEstimate(text: String): Int = {
    var total = 0
    for (tok <- "[A-Za-zА-Яа-яЁё]+|[0-9]+|[^\\sA-Za-zА-Яа-яЁё0-9]".r.findAllIn(text))
      total += math.max(1, (tok.length + 3) / 4)
    total
  }

  /** n-gram language-ID heuristic over script classes: returns "ru", "en" or
    * "other" from the dominant letter script, "und" for empty/no-letters. */
  def langId(text: String): String = {
    var cyr = 0; var lat = 0; var other = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if ((c >= 'а' && c <= 'я') || (c >= 'А' && c <= 'Я') || c == 'ё' || c == 'Ё') cyr += 1
      else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) lat += 1
      else if (Character.isLetter(c)) other += 1
      i += 1
    }
    val total = cyr + lat + other
    if (total == 0) "und"
    else if (cyr >= lat && cyr >= other) "ru"
    else if (lat >= cyr && lat >= other) "en"
    else "other"
  }

  /** Document quality score in [0,1]: blends length band, alpha ratio,
    * punctuation ratio and mean word length band. Pure +,-,*,/ arithmetic. */
  def qualityScore(text: String): Double = {
    val len = text.length
    if (len == 0) return 0.0
    var alpha = 0; var punct = 0; var spaces = 0
    var i = 0
    while (i < len) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) alpha += 1
      else if (c == ' ') spaces += 1
      else if (!Character.isLetterOrDigit(c)) punct += 1
      i += 1
    }
    val lenScore = math.min(1.0, len / 200.0)
    val alphaRatio = alpha.toDouble / len
    val punctPenalty = math.max(0.0, 1.0 - 4.0 * punct.toDouble / len)
    val words = spaces + 1
    val meanWord = (len - spaces).toDouble / words
    val wordScore = if (meanWord >= 3.0 && meanWord <= 12.0) 1.0 else 0.5
    0.25 * lenScore + 0.35 * alphaRatio + 0.25 * punctPenalty + 0.15 * wordScore
  }
}
