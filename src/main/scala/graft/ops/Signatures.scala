package graft.ops

import graft.synth.Rng

/** Pure signature functions for near-dup detection: minhash + simhash.
  * Counter-based hashing (splitmix64 mixes) — no java.util.Random, so
  * signatures are identical at any parallelism (same property the
  * synthesizer relies on, SURVEY.md §7.5 #4).
  */
object Signatures {

  /** Word w-shingles (space-joined), distinct. */
  def shingles(text: String, w: Int): Array[String] = {
    val words = text.split(' ')
    if (words.length < w) {
      if (text.isEmpty) Array.empty else Array(text)
    } else {
      val out = new Array[String](words.length - w + 1)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i + w <= words.length) {
        // Same " "-joined shingle as slice+mkString, without the per-shingle
        // slice array + builder churn (this runs once per word per doc).
        sb.setLength(0)
        var j = 0
        while (j < w) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        out(i) = sb.toString
        i += 1
      }
      out.distinct
    }
  }

  private def hashString(s: String, seed: Long): Long = {
    // FNV-ish accumulate then splitmix finalize — deterministic across JVMs.
    var h = seed ^ 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    Rng.mix64(h)
  }

  /** 64-bit shingle fingerprints (distinct). Jaccard over these equals
    * jaccard over the string shingles up to 64-bit collisions (~n²/2⁶⁵ —
    * immaterial even at 10^9 shingles); at 100 TB the verify join ships
    * 8-byte longs instead of multi-word strings.
    */
  def shingleHashes(shingleSet: Array[String]): Array[Long] =
    shingleSet.map(s => hashString(s, 0L)).distinct

  /** Per-k salt mix(k), hoisted out of the minhash inner loop: the family
    * h_k(x) = mix(base ^ mix(k)) re-derived mix(k) per (shingle, k) — half
    * the inner-loop work for a value that only depends on k. Grown lazily,
    * cached for the process (numHashes is a small constant per workload).
    */
  @volatile private var kSalts: Array[Long] = Array.empty

  private def saltsFor(numHashes: Int): Array[Long] = {
    val cached = kSalts
    if (cached.length >= numHashes) cached
    else {
      val fresh = Array.tabulate(numHashes)(k => Rng.mix64(k.toLong))
      kSalts = fresh
      fresh
    }
  }

  /** MinHash signature of `numHashes` values over the shingle set.
    * Universal-hash family h_k(x) = mix(base ^ mix(k)) — one string hash
    * per shingle, then k cheap mixes.
    */
  def minhash(shingleSet: Array[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val salts = saltsFor(numHashes)
    var i = 0
    while (i < shingleSet.length) {
      val base = hashString(shingleSet(i), 0L)
      var k = 0
      while (k < numHashes) {
        val h = Rng.mix64(base ^ salts(k))
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig
  }

  /** MinHash signature straight from 64-bit shingle fingerprints (the
    * output of [[shingleHashes]]). EXACTLY equal to
    * [[minhash]](shingles, numHashes): the string hash is the family's
    * base, so min over distinct hashes ≡ min over distinct strings (a
    * 64-bit-colliding string pair contributes the same candidate twice —
    * min unchanged). Lets callers that already fingerprint the shingles
    * (the LSH signature frame) hash each shingle string ONCE, not twice.
    */
  def minhashFromHashes(hashes: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val salts = saltsFor(numHashes)
    var i = 0
    while (i < hashes.length) {
      val base = hashes(i)
      var k = 0
      while (k < numHashes) {
        val h = Rng.mix64(base ^ salts(k))
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys: hash of each consecutive `rowsPerBand` slice of the
    * signature, salted with the band index so buckets don't collide across
    * bands.
    */
  def bandKeys(sig: Array[Long], rowsPerBand: Int): Array[Long] = {
    val bands = sig.length / rowsPerBand
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Rng.mix64(b.toLong + 0x5151L)
      var r = 0
      while (r < rowsPerBand) { h = Rng.mix64(h ^ sig(b * rowsPerBand + r)); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** 64-bit SimHash over word tokens (weight = term frequency). */
  def simhash(text: String): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    text.split(' ').foreach { w =>
      if (w.nonEmpty) counts.update(w, counts.getOrElse(w, 0) + 1)
    }
    val acc = new Array[Int](64)
    counts.foreach { case (w, c) =>
      val h = hashString(w, 7L)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += c else acc(bit) -= c
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** Pigeonhole blocks for hamming-distance LSH: split the 64-bit simhash
    * into `nBlocks` equal bit-blocks; two hashes within hamming distance
    * `nBlocks - 1` share at least one identical block. Element `b` is
    * block `b`'s value.
    */
  def simhashBlocks(h: Long, nBlocks: Int): Array[Long] = {
    val width = 64 / nBlocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    Array.tabulate(nBlocks)(b => (h >>> (b * width)) & mask)
  }
}
