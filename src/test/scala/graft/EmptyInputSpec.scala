package graft

import org.apache.spark.sql.types._

/** Empty-input robustness: at production scale, empty filtered subsets
  * and zero-row partitions are routine (a new source, an all-filtered
  * shard). Every documents-table operator must return an empty result —
  * not throw — on a schema-complete, zero-row corpus. Classic failure
  * modes this pins: .head on an empty aggregate, element_at on empty
  * arrays, window functions over nothing, iterative loops that never
  * converge on no data.
  */
class EmptyInputSpec extends SparkSpecBase {

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val docOps = Seq(
    "d01_dedup_exact", "d02_dedup_fingerprint", "d03_dedup_minhash_lsh",
    "d04_dedup_simhash", "d05_ngram_jaccard", "d07_winnow_fingerprint",
    "d08_dedup_groups", "t01_token_count", "t02_quality_score",
    "t03_lang_id", "t04_ngram_freq", "t05_bpe_tokens", "t06_token_entropy",
    "x01_hash_sample", "x02_stratified_sample", "x03_tfidf", "x04_redact",
    "x05_chunk_pack", "x06_corpus_pipeline", "p01_decontaminate",
    "p02_seq_pack", "p03_domain_mix", "p04_repetition_score",
    "p05_source_overlap", "p06_prep_pipeline", "p06b_prep_pipeline_cached",
    "p07_token_budget", "p08_contamination_attribution", "d10_incremental_dedup",
    "t07_token_familiarity", "d11_dedup_survivors", "p09_leakage_safe_split",
    "p11_dedup_savings", "t08_bigram_lm", "d13_span_dedup",
    "p12_mix_waterfill", "x07_shard_balance", "t09_lexical_diversity",
    "t10_readability", "d14_prefix_dedup", "p14_snapshot_diff",
    "x08_shard_manifest", "p13_curriculum", "m05_chunk_dedup",
    "t11_keyword_extract", "p15_oversample", "x09_data_profile",
    "p16_length_histogram", "m07_magic_sniff", "t14_code_detect",
    "x13_pii_report", "p21_alpha_sampling", "t15_vocab_growth",
    "p22_epoch_plan", "t16_charset_audit", "m08_blob_containment",
    "t17_source_novelty",
    "d20_minhash_calibration", "t18_learned_stopwords",
    "p23_boilerplate_strip", "t19_truncation_loss", "x16_profile_drift",
    "t20_compression_ratio", "d21_multisource_dups", "p24_pack_efficiency",
    "t21_length_outliers", "x19_kanonymity", "m09_payload_profile",
    "p25_perplexity_gate", "t22_encoding_audit", "x20_layout_pruning",
    "d22_dup_inflation", "p26_stratified_sample", "x21_lineage_card",
    "p27_dedup_mix", "t23_casing_profile", "x22_redaction_audit",
    "t24_burstiness", "x23_equidepth_bins", "t25_pmi_collocations",
    "t26_source_divergence", "p28_ipf_reweight", "t27_heldout_perplexity",
    "m10_format_dedup_profile", "x24_sample_bias")

  test("every documents-table operator returns empty (not throws) on a zero-row corpus") {
    docOps.foreach { name =>
      val n = try run(name, emptyDir).count()
      catch {
        case e: Throwable =>
          fail(s"$name threw on empty input: ${e.getMessage}")
      }
      assert(n == 0L, s"$name returned $n rows on an empty corpus")
    }
  }

  // every table from sf0.001, schema-complete but zero rows — the "new
  // empty source" shape for the FULL query surface, not just documents
  private lazy val emptyAllDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-all")
      .toString
    Tables.all.foreach { t =>
      Tables(spark, sf, t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every query in SparkEntry completes on a schema-complete zero-row dataset") {
    // global aggregates legitimately return one row (count=0 / null
    // bounds) on empty input, so this pins "materializes without
    // throwing", not "returns zero rows" — the production contract for
    // an empty partition, day-one source, or all-filtered shard
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try { run(name, emptyAllDir).collect(); None }
      catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    graft.operators.HotCache.releaseAll()
    assert(failures.isEmpty,
      s"${failures.size} queries threw on empty input:\n" +
        failures.mkString("\n"))
  }
}
