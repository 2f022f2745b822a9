package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic hashing primitives.
  *
  * Everything routes through `md5` (bit-identical in any engine)
  * rather than engine-private hashes (Spark's murmur3 `hash()` or
  * DuckDB's `hash()` would diverge), so every sketch built on these
  * (MinHash, SimHash, fingerprints) is reproducible by the DuckDB
  * oracle and by any other SQL engine — a property worth keeping in a
  * multi-engine lakehouse even at the cost of md5 vs murmur speed.
  */
object HashFunctions {

  /** 60-bit integer hash: first 15 hex digits of md5. Non-negative,
    * fits signed int64 — safe as a join/bucket key. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Driver-side twin of [[md5Long]] (same first-15-hex-digits
    * contract) for deterministic DATA-INDEPENDENT constants built at
    * plan time — e.g. the ±1 hyperplane matrix of
    * [[graft.operators.Similarity.srpSearch]] — so the SQL oracle can
    * regenerate the identical constants from md5 alone. */
  def md5Long60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL)) >>> 4
  }

  /** Word n-gram shingles (distinct) over the token array. Empty
    * array (not null) when the document has fewer than n tokens.
    *
    * Shape matters: built by `zip_with` over n aligned `slice`s of
    * the token array, NOT by indexing (`element_at(toks, i)`) inside
    * a `transform` lambda — a lambda-captured outer expression is
    * re-evaluated on every element access, which turns shingling into
    * O(shingles × tokenize-cost) per document (measured 159 s for
    * 5000 docs at sf0.1 vs ~2 s for this formulation). Here the token
    * array is evaluated once per slice argument, and the lambdas only
    * touch their bound variables. */
  /** [[shingles]] WITHOUT the distinct — every token position keeps
    * its gram, in order, so `posexplode` yields (token offset, gram)
    * pairs for span-level reporting (q429). */
  def shinglesAll(text: Column, n: Int = 3): Column = {
    val toks = TextFunctions.tokens(text)
    val nSh = greatest(size(toks) - (n - 1), lit(0))
    (2 to n).foldLeft(slice(toks, lit(1), nSh)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), nSh), (a, b) => concat(a, lit(" "), b))
    }
  }

  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextFunctions.tokens(text)
    // slices share one length so zip_with never null-pads; length 0
    // (short doc) yields an empty array with no special-casing
    val nSh = greatest(size(toks) - (n - 1), lit(0))
    val joined = (2 to n).foldLeft(slice(toks, lit(1), nSh)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), nSh), (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(joined)
  }

  /** MinHash permutation family: ONE md5 per shingle reduced to a
    * 30-bit base hash, then k affine permutations
    * `(A_i·h + B_i) mod P` over the prime field P < 2^30.
    *
    * Why this shape: md5 keeps cross-engine determinism, while the
    * affine step replaces k−1 of every k md5 calls with two integer
    * ops — the dominant cost of signature computation. 30-bit domain
    * keeps `A·h` within int64 on every engine (no silent wrap vs.
    * overflow-error divergence). */
  val MinhashP = 1073741789L // largest prime < 2^30
  val MinhashMask = 1073741823L // 2^30 − 1
  val MinhashA: Seq[Long] = Seq(787542839L, 611349889L, 904321577L,
    359485871L, 673458601L, 513695341L, 844235099L, 298654777L,
    736217683L, 465182977L, 952103481L, 587431267L)
  val MinhashB: Seq[Long] = Seq(242017L, 938741L, 55117L, 712933L,
    128747L, 999331L, 47743L, 583391L, 864967L, 22229L, 371099L, 650087L)

  /** 30-bit base hash of one shingle. */
  def baseHash30(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long").bitwiseAND(lit(MinhashMask))

  /** Permuted hash i of a base hash. */
  def affine(h: Column, i: Int): Column =
    (lit(MinhashA(i)) * h + lit(MinhashB(i))) % lit(MinhashP)

  /** One MinHash value per row (higher-order formulation): min of
    * permutation i over the shingle set. Null on empty input. */
  def minhash(shingleSet: Column, seed: Int): Column =
    array_min(transform(shingleSet, s => affine(baseHash30(s), seed)))

  /** The k-value MinHash signature as individual columns. */
  def minhashSignature(shingleSet: Column, k: Int): Seq[Column] =
    (0 until k).map(i => minhash(shingleSet, i).as(s"mh$i"))
}
