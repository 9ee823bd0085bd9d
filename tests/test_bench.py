"""bench.py: the per-query timer over contract.QUERIES."""

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import bench  # noqa: E402

from vlm_ocr_doc_reader_spark.contract import QUERIES  # noqa: E402


def test_no_names_selects_the_whole_registry():
    assert bench.select([]) == list(QUERIES)
    assert bench.select(["vote", "jaccard"]) == ["vote", "jaccard"]


def test_time_queries_records_seconds_shuffle_and_operators(spark):
    names = ["vote", "cosine_topk"]
    got = bench.time_queries(spark, "/root/testdata/sf0.001", names,
                             passes=1)
    assert list(got) == names
    for name, rec in got.items():
        assert rec["sec_min"] > 0 and len(rec["sec"]) == 1, name
        assert rec["sec_median"] == rec["sec_min"], name
        assert rec["shuffle_bytes"] > 0, name
        assert rec["operators_ms"], name
