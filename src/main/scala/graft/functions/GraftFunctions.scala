package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** graft's native SQL functions, one row each: (name, usage, builder).
  * This table is the only place a function is declared.
  * [[graft.GraftExtensions]] injects every row at session build;
  * [[install]] registers the rows a session lacks. A new native
  * function is one more row here and nothing else.
  */
object GraftFunctions {

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_rolling_hash",
      "polynomial rolling-hash fingerprint of a string", RollingHash.builder),
    ("graft_simhash64",
      "64-bit SimHash of space-tokenized text", SimHash64.builder),
    ("graft_simhash_wide",
      "width-scaled SimHash of space-tokenized text as n 64-bit lanes",
      SimHashWide.builder),
    ("graft_word_shingles",
      "distinct k-word shingles of text", WordShingles.shinglesBuilder),
    ("graft_word_ngrams",
      "all k-word grams of text in position order", WordShingles.ngramsBuilder),
    ("graft_dot",
      "dot product of two array<double> columns", ArrayDotProduct.builder),
    ("graft_scale",
      "element-wise division of an array<double> by a scalar", ArrayScale.builder),
    ("graft_top_k_by_score",
      "top-k (score, id) pairs per group via a bounded heap",
      TopKByScore.builder),
    ("graft_hyperplane_sigs",
      "per-table hyperplane-LSH sign-bit signatures of an embedding",
      HyperplaneSigs.builder),
    ("graft_token_set_hits",
      "count of space-tokens present in a literal token set (duplicates counted)",
      TokenSetHits.builder),
    ("graft_nearest_cells",
      "indices of the n nearest centroids to a vector (IVF assign/probe)",
      NearestCells.builder),
    ("graft_heavy_hitters",
      "Misra-Gries frequent-items candidates (id, est) with k counters",
      HeavyHitters.builder),
    ("graft_char_deletions",
      "single-deletion neighborhood of a string (SymSpell blocking keys)",
      CharDeletions.builder),
    ("graft_char_deletion_hashes",
      "XXH64 hashes of the deletion neighborhood (allocation-free blocking keys)",
      CharDeletionHashes.builder),
    ("graft_char_deletion_hashlens",
      "deletion-neighborhood keys with code-point length packed into the top 16 bits",
      CharDeletionHashes.packedBuilder),
    ("graft_bloom_agg",
      "distributed bloom-filter build over long keys (merge-safe partials)",
      BloomOps.aggBuilder),
    ("graft_bloom_contains",
      "bloom-filter probe; false = proof of absence",
      BloomOps.containsBuilder),
    ("graft_html_text",
      "main text of an HTML page (boilerplate-dropped blocks joined by \\n)",
      HtmlExtract.textBuilder),
    ("graft_html_block_stats",
      "HTML block census [n_blocks, n_kept, n_dropped_link, n_dropped_short]",
      HtmlExtract.statsBuilder),
    ("graft_html_parsed",
      "full HTML parse as one struct (text + block census in a single page walk)",
      HtmlExtract.parsedBuilder),
    ("graft_html_links",
      "href values of anchor opening tags in document order",
      HtmlExtract.linksBuilder),
    ("graft_url_canon",
      "canonical form of a URL (case, default port, tracking params, fragment)",
      UrlCanon.canonBuilder),
    ("graft_url_host",
      "canonical host of a URL (lowercased, default port stripped)",
      UrlCanon.hostBuilder),
    ("graft_chunk_hashes",
      "sha2-256 hex keys of content-defined chunks (gear/CDC cut rule)",
      ChunkHashes.builder))

  /** Registers every function the session lacks; a no-op on a session
    * built with the extension. For sessions graft did not build. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
