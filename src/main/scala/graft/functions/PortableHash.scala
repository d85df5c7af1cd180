package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Integer hash primitives computable bit-identically in Spark and in the
  * DuckDB oracle (SURVEY §5: every claimed operator needs a DuckDB-checkable
  * result). Spark's native hash functions (xxhash64, murmur3) have no DuckDB
  * equivalent, and DuckDB's `hash()` has no Spark equivalent — so dedup /
  * fingerprint operators are built on md5 (identical hex in both engines)
  * and on the pure-arithmetic token hash below (exact int64 math, identical
  * everywhere, and codegen-friendly on the Spark side: plain arithmetic
  * inside whole-stage codegen, no UDF).
  *
  * All constants are chosen so no intermediate exceeds 2^62 (see bounds in
  * each function's doc) — overflow would be UB to rely on and DuckDB would
  * diverge by erroring.
  */
object PortableHash {

  /** Modulus for permutation/fingerprint hashing (prime). */
  val P: Long = 1000000007L

  /** Length cap for the tokHash length term: without it, one unbroken
    * token of ≥ ~10.8M chars (minified JS, base64 blobs — real web-corpus
    * rows) overflows int64 in length·31^8, which under Spark's default
    * ANSI mode is a job-killing ARITHMETIC_OVERFLOW and in DuckDB a hard
    * error. 1e6·31^8 ≈ 8.5e17 « 2^62 keeps the full chain overflow-free. */
  val MaxLenTerm: Long = 1000000L

  /** Length-salted polynomial over the codepoints of the first 8 chars
    * (padded with '.'): h = min(len(t),1e6)·31^8 + Σ_{i=1..8}
    * ascii(char_i)·31^(i-1). Bound: codepoints ≤ 65535 and the capped
    * length ⇒ h < 8.6e17 « 2^62.
    */
  def tokHash(c: Column): Column = {
    val padded = rpad(c, 8, ".")
    val poly = (1 to 8).map { i =>
      ascii(substring(padded, i, 1)).cast("long") * lit(pow31(i - 1))
    }.reduce(_ + _)
    least(length(c).cast("long"), lit(MaxLenTerm)) * lit(pow31(8)) + poly
  }

  /** Token-hash ARRAY of a tokens column — the native codegen
    * [[TokHashesOfTokens]] (one byte-walk per token). `df` names the
    * session the expression is registered in. */
  def tokHashes(df: org.apache.spark.sql.DataFrame, toks: Column): Column =
    graft.GraftExtensions.call(df, "tok_hashes_of_tokens", toks)

  /** Same hash as DuckDB SQL over a column expression. */
  def tokHashSql(c: String): String = {
    val padded = s"rpad($c, 8, '.')"
    val poly = (1 to 8)
      .map(i => s"CAST(ascii(substring($padded, $i, 1)) AS BIGINT) * ${pow31(i - 1)}")
      .mkString(" + ")
    s"(least(CAST(length($c) AS BIGINT), $MaxLenTerm) * ${pow31(8)} + $poly)"
  }

  /** Combine three word hashes into a shingle hash, mod P.
    * Bound: ((h%P)·131 + h) < 1e9·131 + 3e15 < 2^62. */
  def shingle3(h1: Column, h2: Column, h3: Column): Column =
    (((h1 % P) * 131 + h2) % P * 131 + h3) % P

  def shingle3Sql(h1: String, h2: String, h3: String): String =
    s"((((($h1) % $P) * 131 + ($h2)) % $P * 131 + ($h3)) % $P)"

  /** [[shingle3]] generalized to any window width k ≥ 1: the same
    * left-nested fold acc ← (acc·131 + h) mod P over the k word hashes
    * (identical to shingle3 at k=3, property-tested). Per-step bound:
    * acc < P ⇒ acc·131 + h < 1.4e11 + 8.6e17 < 2^62 — overflow-free for
    * ANY k, which is what makes the window a first-class parameter
    * (decontamination runs at k=8..13 where dedup shingling stays at 3).
    */
  def shingleK(hs: Seq[Column]): Column =
    hs.tail.foldLeft(hs.head % P)((acc, h) => (acc * 131 + h) % P)

  def shingleKSql(hs: Seq[String]): String =
    hs.tail.foldLeft(s"((${hs.head}) % $P)")((acc, h) => s"(($acc * 131 + ($h)) % $P)")

  /** Deterministic MinHash permutation parameters (a_i, b_i), seeded —
    * generated once here and embedded as literals in BOTH the Spark plan
    * and the oracle SQL, so they cannot drift. a_i ≤ 1e9 and the hash is
    * reduced mod P before multiplying: a·(h%P)+b < 1e9·1e9+1e9 < 2^62. */
  def minhashPerms(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((rnd.nextInt(999999999).toLong + 1L, rnd.nextInt(999999999).toLong))
  }

  /** One permuted hash value: (a·(h mod P) + b) mod P. */
  def permHash(h: Column, a: Long, b: Long): Column = ((h % P) * a + b) % P

  def permHashSql(h: String, a: Long, b: Long): String =
    s"(((($h) % $P) * $a + $b) % $P)"

  private def pow31(e: Int): Long = (0 until e).foldLeft(1L)((acc, _) => acc * 31L)
}
