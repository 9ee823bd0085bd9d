"""Driver-comparator certification of the r7 window's NEW and CHANGED
registry entries.

The r7 flip (VERDICT r6 item 1) consolidated 18 single-purpose entries
into 7 union-with-tag suites, flipped the 11 r6-staged composed entries
into the live registry, and front-loaded ``winsorize`` (its quantile
rounding hardened after the r6 window froze).  Every one of those rows
is certified here with the EXACT comparator the local gate uses
(``tools/check_contract.compare``: dtype-kind-strict, round-6 exact on
floats) at sf0.001 — the same pairs are runnable at any SF via
``python tools/check_contract.py <sf_dir>``.  The entries that never
had a driver row (``NEVER_IN_A_DRIVER_ROUND``) are certified the same way.
"""

import pathlib
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

from check_contract import compare, duck_conn  # noqa: E402

from vlm_ocr_doc_reader_spark.contract import ORACLES, QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# the r7 window rows with no prior official driver row (new suites +
# staged flips) or with changed behavior (winsorize)
R7_NEW_OR_CHANGED = [
    "scalar_suite", "agg_suite", "membership_joins", "norm_dedupe",
    "sample_suite", "levels_suite", "extract_strategies",
    "extract_diff", "hybrid_search", "lsh_multiprobe", "rake",
    "drift_report", "gopher_report", "url_report", "interleaved_report",
    "substring_dedup", "semdedup", "dsir_select",
    "winsorize",
]


# entries that never had a driver row
NEVER_IN_A_DRIVER_ROUND = ["bloom_decontam", "margin_pairs", "pq_topk"]


@pytest.mark.parametrize("name", R7_NEW_OR_CHANGED + NEVER_IN_A_DRIVER_ROUND)
def test_new_or_changed_pair_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    con = duck_conn(SF_DIR)
    try:
        ddf = con.execute(ORACLES[name]).fetchdf()
    finally:
        con.close()
    assert len(sdf) > 0, f"{name}: query returned no rows"
    issues = compare(name, sdf, ddf)
    assert not issues, f"{name}: {issues}"
