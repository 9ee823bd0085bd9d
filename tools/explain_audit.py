"""Dump formatted physical plans of key contract queries to PLANS.md —
the .explain audit trail (pushdown, pruning, broadcast, exchanges)."""
import sys
sys.path.insert(0, ".")

AUDIT = ["pricing_summary", "dim_join_rollup", "vote", "extract_text",
         "minhash_pairs", "cosine_topk", "upsert_merge",
         "dedup_pipeline", "lsh_multiprobe", "lsh_topk_multiband",
         "full_description", "sessionize", "asof_join", "range_join",
         "range_join_left", "time_rollup", "sample_suite", "heavy_hitters",
         "tfidf", "event_pivot", "ivf_topk", "dup_components",
         "kmv_distinct", "cms_counts", "hist_quantiles", "curation",
         "decontam_overlap", "lm_score", "pack_sequences",
         "mixture_sample", "corpus_report", "weighted_sample",
         "keyword_search", "inverted_postings", "robust_outliers",
         "bm25", "domain_cap", "rolling_stats", "decayed_sum", "scd2",
         "containment", "winsorize", "bigram_pmi", "bpe_pairs",
         "incremental_dedup", "curriculum", "quality_clf", "corpus_diff",
         "key_skew", "density_classify", "unicode_norm",
         "passage_dedup", "truncate_chunk", "bigram_lm", "merge_shards",
         # r7 consolidation suites + flipped composed entries
         "scalar_suite", "agg_suite", "membership_joins",
         "norm_dedupe", "levels_suite", "extract_strategies",
         "extract_diff", "hybrid_search", "rake", "drift_report",
         "gopher_report", "url_report", "interleaved_report",
         "substring_dedup", "semdedup", "dsir_select"]


def plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from vlm_ocr_doc_reader_spark.contract import QUERIES, STAGED_QUERIES
    from vlm_ocr_doc_reader_spark.sources.session import get_spark
    from vlm_ocr_doc_reader_spark.operators.fused import fused_kept_spans
    from vlm_ocr_doc_reader_spark.plans.extract import extract
    from vlm_ocr_doc_reader_spark.fixtures.generate import (
        generate_documents, write_documents_parquet)
    import tempfile, os
    spark = get_spark(master="local[4]", shuffle_partitions=8,
                      extra_conf={"spark.ui.enabled": "false"})
    out = ["# PLANS — physical plans of key queries (`.explain('formatted')`)",
           "", f"Generated by tools/explain_audit.py against {sf}.", ""]
    for name in AUDIT:
        out += [f"## {name}", "", "```",
                plan(QUERIES[name](spark, sf)).rstrip(), "```", ""]
    # staged (pre-registry) gate entries get the same audit trail so the
    # r7 flip ships with its plans already reviewed
    for name in sorted(STAGED_QUERIES):
        out += [f"## {name} (staged)", "", "```",
                plan(STAGED_QUERIES[name](spark, sf)).rstrip(), "```", ""]
    d = tempfile.mkdtemp()
    p = os.path.join(d, "docs.parquet")
    write_documents_parquet(generate_documents(5, seed=1, mega_spans=50,
                                               include_edge=False), p)
    df = spark.read.parquet(p)
    for run in (extract, fused_kept_spans):
        out += [f"## {run.__name__}", "", "```",
                plan(run(df)).rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
