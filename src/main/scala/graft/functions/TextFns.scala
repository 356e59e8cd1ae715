package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.functions._

/** Tokenization / shingling / hashing helpers shared by the dedup and
  * text-analysis operators. Tokens are the split builtin; n-gram strings,
  * n-gram hashes and top-bigram counts are the native graft.plans
  * kernels (one pass per row, no per-element closures); everything is
  * deterministic across runs and engines.
  */
object TextFns {

  import graft.plans.{NGramHashExpr, NGramStringExpr, TopBigramExpr}

  /** Whitespace tokens of lowercased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** n-token shingles ("w1 w2 w3"), via the native NGramStringExpr;
    * fewer than n tokens give an empty array.
    */
  def shingles(toks: Column, n: Int): Column =
    GraftShim.column(NGramStringExpr(GraftShim.expression(toks), n))

  /** Occurrences of the most frequent adjacent token pair (0 under two
    * tokens), via the native TopBigramExpr.
    */
  def topBigram(toks: Column): Column =
    GraftShim.column(TopBigramExpr(GraftShim.expression(toks)))

  /** k independent 64-bit hash functions: xxhash64 with a distinct salt
    * column per index — the MinHash permutation family.
    */
  def saltedHash(c: Column, salt: Int): Column = xxhash64(c, lit(salt))

  /** Distinct hashed n-gram shingles of `text`, via the native
    * NGramHashExpr (no per-shingle string building).
    */
  def shingleHashes(text: Column, n: Int): Column =
    array_distinct(GraftShim.column(
      NGramHashExpr(GraftShim.expression(tokens(text)), n)))

  /** Common stopword list used by quality scoring / lang-id heuristics. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")
}
