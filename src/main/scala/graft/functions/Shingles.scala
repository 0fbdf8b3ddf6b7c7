package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Word-shingle generation in one native-codegen pass — no UDFs and no
  * interpreted higher-order functions (see [[WordShingles]]). */
object Shingles {

  /** Distinct k-word shingles of a text column (space-tokenized).
    * Documents shorter than k words produce an empty array. */
  def wordShinglesNative(text: Column, k: Int): Column =
    call_function("graft_word_shingles", text, lit(k))
}
