package graft.textops

import org.apache.spark.unsafe.types.UTF8String

/** Portable hashing primitives expressible in BOTH Spark SQL and DuckDB.
  *
  * The dedup/fingerprint operators must hash-match a DuckDB oracle, so
  * they cannot use engine hashes (`xxhash64`, DuckDB `hash`) — instead
  * every string hash is a polynomial character fold
  * `h = fold(chars, 0, (a, c) => (a*31 + ascii(c)) mod P)` built from
  * higher-order array functions both engines codegen natively
  * (Spark `aggregate`/`transform`, DuckDB `list_reduce`/`list_transform`).
  * All arithmetic stays < 2^63 (P ≈ 1e9, a*31+127 ≈ 3.2e10; affine
  * rehash a*h+b ≤ 1e9·1.7e2+… « 2^63).
  *
  * Lambda variable names are suffixed per call site — nested lambdas
  * with shadowed names are rejected/ambiguous in both engines.
  */
object TextHash {
  val P = 1000000007L

  /** 3-gram shingle-hash combine multiplier (MinHash tier). */
  val ShingleMult = 1000003L

  /** MinHash family: K affine rehashes of the shingle hash. */
  val MinhashA: Seq[Long] = Seq(131, 137, 139, 149, 151, 157, 163, 167)
  val MinhashB: Seq[Long] = Seq(31, 37, 41, 43, 47, 53, 59, 61)
  val K: Int = MinhashA.length

  /** Spark SQL: polynomial char-fold hash of string expression `t`. */
  def phSpark(t: String, sfx: String, mult: Long = 31): String =
    s"aggregate(transform(sequence(1, length($t)), i$sfx -> " +
      s"cast(ascii(substring($t, i$sfx, 1)) as bigint)), cast(0 as bigint), " +
      s"(a$sfx, x$sfx) -> (a$sfx * $mult + x$sfx) % $P)"

  /** DuckDB: same fold, same result. `t` must be a parenthesizable expr. */
  def phDuck(t: String, sfx: String, mult: Long = 31): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($t) + 1), i$sfx -> " +
      s"CAST(ascii(($t)[i$sfx]) AS BIGINT))), " +
      s"(a$sfx, x$sfx) -> (a$sfx * $mult + x$sfx) % $P)"

  /** 60-bit token hash: two independent 30-bit poly hashes (mult 31 /
    * 37) packed as `h31 + h37·2^30` — poly-hash values are < 2^30, so a
    * single fold leaves bits 30+ empty, which would cripple SimHash.
    */
  def tokenHash60Spark(tk: String): String =
    s"poly_hash($tk) + poly_hash37($tk) * 1073741824"

  def tokenHash60Duck(tk: String, sfx: String): String =
    s"${phDuck(tk, sfx + "p")} + ${phDuck(tk, sfx + "q", 37)} * 1073741824"

  /** Driver-side `poly_hash` — lets serving code compute a token's
    * partition literal WITHOUT a Spark job (e.g. the phrase-search
    * index prune). It calls the expression's own kernel, which folds
    * over the string's UTF-8 BYTES, so it agrees for ALL inputs, not
    * just the ASCII range a char-fold would cover (PropertySpec pins
    * a non-ASCII token through both paths).
    */
  def phScala(s: String, mult: Long = 31): Long =
    graft.functions.GraftExpressions.polyHash(UTF8String.fromString(s), mult)

  /** Whitespace tokenization with empty tokens dropped — identical
    * token arrays in both engines regardless of leading/trailing
    * whitespace or split-empties semantics.
    */
  val tokensSpark = """filter(split(text, '\\s+'), t0 -> t0 <> '')"""
  val tokensDuck = """list_filter(string_split_regex(text, '\s+'), t0 -> t0 <> '')"""
}
