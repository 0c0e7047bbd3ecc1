package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization / normalization primitives, defined ONCE so every operator
  * (indexing, dedup, text stats) and every DuckDB oracle query agree on
  * token semantics.
  *
  * Reference semantics (`/root/reference/helper_map.c:166`,
  * `/root/reference/WordCount.java:45-47`): split on whitespace, lowercase,
  * strip `[^a-z]`. Deliberate fix vs the reference (SURVEY.md §7.0): tokens
  * that normalize to "" are DROPPED (the reference counts them).
  *
  * Everything here is `org.apache.spark.sql.functions._` built-ins —
  * codegen'd, no UDFs — so tokenize→explode→aggregate stays inside
  * WholeStageCodegen at any scale.
  */
object TextFunctions {

  /** Array of normalized tokens of a text column.
    * Spark:  filter(transform(split(lower(t), ' '), strip), _ != '')
    * DuckDB: list_filter(list_transform(string_split(lower(t), ' '), strip), _ <> '')
    */
  def tokens(text: Column): Column =
    filter(
      transform(split(lower(text), " "), w => regexp_replace(w, "[^a-z]", "")),
      w => w =!= ""
    )

  /** One row per normalized token (P1+P2+P3+P4 of SURVEY.md §2). */
  def explodedTokens(text: Column): Column = explode(tokens(text))

  /** Reference-faithful tokens for RAW multi-line corpus files: split on
    * space OR newline — exactly what `tr ' ' '\n'` plus line-based
    * counting does (`/root/reference/helper_map.c:166`). Note a tab does
    * NOT separate tokens there (it is stripped by the `[^a-z]` filter,
    * merging its neighbors) and so it doesn't here either; `\r` of CRLF
    * line ends is likewise stripped. [[tokens]] (single-space split)
    * remains the oracle-parity tokenizer for the single-line synthetic
    * corpus — both are asserted against independent ground truth.
    */
  def corpusTokens(text: Column): Column =
    filter(
      transform(split(lower(text), "[ \n]"), w => regexp_replace(w, "[^a-z]", "")),
      w => w =!= ""
    )

  /** Token count per document. */
  def numTokens(text: Column): Column = size(tokens(text))

  /** Partition key of the reference's 26-file master index
    * (`/root/reference/helper_reduce.c:238-242`): first letter of the term.
    */
  def firstLetter(term: Column): Column = substring(term, 1, 1)

  /** Document name derivation per `/root/reference/worker.c:285-302`:
    * strip directories, then strip the extension at the FIRST dot of the
    * basename ("Tolstoy/war_and_peace.txt" -> "war_and_peace").
    */
  def docName(path: Column): Column =
    regexp_extract(path, "([^/.]+)[^/]*$", 1)

  /** Word n-gram shingles of a text column (duplicates kept; wrap in
    * `array_distinct` for set semantics). Empty array when fewer than n
    * tokens — a negative slice length would throw, so guard it.
    */
  def wordShingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(text), n)

  /** Shingles from an already-tokenized array column: shingle i joins
    * tokens i..i+n-1, built by zipping n shifted slices of length k =
    * size - n + 1. `ts` appears only OUTSIDE the lambda, so an inline
    * `tokens(text)` is evaluated a fixed 2n+1 times per row — a lambda
    * that sliced `ts` itself re-ran the whole tokenizer once per shingle,
    * quadratic in document length. Computing the token array in its own
    * projection and passing the column still evaluates it once.
    */
  def shinglesOfTokens(ts: Column, n: Int): Column = {
    val k = size(ts) - (n - 1)
    when(k >= 1,
      transform(arrays_zip((1 to n).map(j => slice(ts, lit(j), k)): _*),
        z => concat_ws(" ", (0 until n).map(j => z.getField(j.toString)): _*))
    ).otherwise(array().cast("array<string>"))
  }
}
