"""Driver-comparator certification of the r7 window's NEW and CHANGED
registry entries.

The r7 flip (VERDICT r6 item 1) consolidated 18 single-purpose entries
into 7 union-with-tag suites, flipped the 11 r6-staged composed entries
into the live registry, and front-loaded ``winsorize`` (its quantile
rounding hardened after the r6 window froze).  Every one of those rows
is certified here with the EXACT comparator the local gate uses
(``tools/check_contract.compare``: dtype-kind-strict, round-6 exact on
floats) at sf0.001 — the same pairs are runnable at any SF via
``python tools/check_contract.py <sf_dir>``.  Future staged entries
(``contract.STAGED_QUERIES``, empty this round) are picked up
automatically.
"""

import pathlib
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

from check_contract import compare, duck_conn  # noqa: E402

from vlm_ocr_doc_reader_spark.contract import (ORACLES,  # noqa: E402
                                               QUERIES, STAGED_ORACLES,
                                               STAGED_QUERIES)

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


# the entries new or changed since the last recorded driver round (r08):
# the registry window is "the complement of last round's driver rows plus
# every changed/new entry" (ARCHITECTURE.md, Rotation-window algebra), so
# the pin follows the last recorded round.  extract_strategies
# runs plans.extract.extract (and operators/fused.py), rewritten after
# r08, and holds only the fused rows since the declarative plan was
# deleted; doc_structure and full_description run through
# plans/describe.py, which reads the kernel (operators/fused.py).  Source of the
# list: `git diff 05c4ebd HEAD -- vlm_ocr_doc_reader_spark` (05c4ebd is
# the round-8 commit).
NEW_OR_CHANGED_SINCE_LAST_ROUND = [
    "extract_strategies", "doc_structure", "full_description",
]


def test_window_contains_all_new_or_changed():
    window = list(QUERIES)[:50]
    missing = [n for n in NEW_OR_CHANGED_SINCE_LAST_ROUND
               if n not in window]
    assert not missing, (
        f"new/changed entries outside the first-50 driver window: "
        f"{missing}")


def test_staged_sets_aligned():
    assert set(STAGED_QUERIES) == set(STAGED_ORACLES)
    assert not set(STAGED_QUERIES) & set(QUERIES)


@pytest.mark.parametrize("name", R7_NEW_OR_CHANGED + sorted(STAGED_QUERIES))
def test_new_or_changed_pair_matches_oracle(spark, name):
    fn = QUERIES.get(name) or STAGED_QUERIES[name]
    sql = ORACLES.get(name) or STAGED_ORACLES[name]
    sdf = fn(spark, SF_DIR).toPandas()
    con = duck_conn(SF_DIR)
    try:
        ddf = con.execute(sql).fetchdf()
    finally:
        con.close()
    assert len(sdf) > 0, f"{name}: query returned no rows"
    issues = compare(name, sdf, ddf)
    assert not issues, f"{name}: {issues}"
