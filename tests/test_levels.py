"""Resolution Levels pipeline tests: scan -> resolve -> verify state machine
parity with the reference (core/reader.py:128-532), plus registry operator
unit tests (upsert J1, validate P5)."""

import pyspark.sql.functions as F
import pytest

from vlm_ocr_doc_reader_spark.fixtures.generate import (
    generate_documents, write_documents_parquet)
from vlm_ocr_doc_reader_spark.operators.registry import (
    REGISTRY_COLS, upsert_entries, validate_entries)
from vlm_ocr_doc_reader_spark.plans.levels import (kept_text_spans, resolve,
                                                   scan, verify)
from vlm_ocr_doc_reader_spark.sources.readers import DOCUMENTS_SCHEMA

REG_SCHEMA = ("doc_id string, page_num int, entity_id string, prompt string, "
              "resolution int, value string, context string, "
              "verified boolean, confidence string")


@pytest.fixture(scope="module")
def docs_df(spark, tmp_path_factory):
    docs = generate_documents(40, seed=7, mega_spans=500)
    # add a doc with known digit targets
    docs.append(("doc_digits", [
        ("text", "The contract number is 7704123456 as filed.", None, 0),
        ("text", "Secondary id 123456789 and code 555666777 appear here.", None, 1),
        ("text", "No digits in this sentence at all.", None, 2),
        ("boilerplate", "copyright 999999999", None, 3),
    ]))
    path = str(tmp_path_factory.mktemp("lv") / "docs.parquet")
    write_documents_parquet(docs, path)
    return spark.read.parquet(path)


def test_scan_builds_registry(docs_df):
    reg = scan(docs_df)
    rows = reg.filter(F.col("doc_id") == "doc_digits").collect()
    assert len(rows) == 3  # two runs in span 1, one in span 0; boiler excluded
    assert all(r["resolution"] == 0 and not r["verified"] for r in rows)
    assert all(r["entity_id"].startswith("scan_") for r in rows)
    pages = sorted(r["page_num"] for r in rows)
    assert pages == [1, 2, 2]


def test_resolve_fills_values(docs_df):
    reg = scan(docs_df)
    reg1 = resolve(docs_df, reg)
    got = {(r["page_num"], r["value"])
           for r in reg1.filter(F.col("doc_id") == "doc_digits").collect()}
    assert got == {(1, "7704123456"), (2, "123456789"), (2, "555666777")}
    assert reg1.filter(F.col("resolution") < 1).count() == 0


def test_resolve_is_incremental(docs_df):
    """Second resolve finds nothing pending — the reference's 'does only what
    is not yet done' (decision_001:48)."""
    reg1 = resolve(docs_df, scan(docs_df))
    assert reg1.filter(F.col("resolution") < 1).count() == 0
    reg2 = resolve(docs_df, reg1)
    a = sorted(map(tuple, reg1.collect()))
    b = sorted(map(tuple, reg2.collect()))
    assert a == b


def test_verify_unanimous(docs_df):
    reg2 = verify(docs_df, resolve(docs_df, scan(docs_df)), axes=(1, 3, 5))
    d = reg2.filter(F.col("doc_id") == "doc_digits").collect()
    assert all(r["resolution"] == 2 for r in d)
    assert all(r["confidence"] == "3/3" and r["verified"] for r in d)
    assert {r["value"] for r in d} == {"7704123456", "123456789", "555666777"}


def test_verify_chunked_axes_disagree(docs_df):
    """axis_mode='chunk': axes read 17/34/51-char windows of the span, so
    they genuinely disagree on 'doc_digits' — page 1's digits occupy chars
    24-33 (axis 1's 17-char window misses them, axes 2/3 contain them fully
    -> 2/3), and the vote's k/N semantics run end-to-end instead of only in
    unit tests."""
    reg2 = verify(docs_df, resolve(docs_df, scan(docs_df)), axes=(1, 2, 3),
                  axis_mode="chunk", axis_chunk_chars=17)
    d = {r["page_num"]: r
         for r in reg2.filter((F.col("doc_id") == "doc_digits")
                              & (F.col("value") == "7704123456")).collect()}
    r = d[1]
    assert r["resolution"] == 2
    assert r["confidence"] == "2/3" and not r["verified"]
    # non-unanimous rows exist corpus-wide, unanimous ones too
    confs = {r["confidence"] for r in reg2.collect()}
    assert any(c != "3/3" for c in confs)

    with pytest.raises(ValueError):
        verify(docs_df, scan(docs_df), axis_mode="bogus")


# ---- registry operator units ----

def test_upsert_updates_and_appends(spark):
    reg = spark.createDataFrame(
        [("d1", 1, "e1", "p1", 0, None, None, False, None),
         ("d1", 1, "e2", "p2", 1, "v2", "c2", False, None)], REG_SCHEMA)
    upd = spark.createDataFrame(
        [("d1", 1, "e1", "p1", 1, "v1", "c1", False, None),   # update
         ("d1", 2, "e3", "p3", 0, None, None, False, None),   # append
         ("d1", 2, "", "px", 0, None, None, False, None)],    # skipped
        REG_SCHEMA)
    out = {r["entity_id"]: r for r in upsert_entries(reg, upd).collect()}
    assert set(out) == {"e1", "e2", "e3"}
    assert out["e1"]["value"] == "v1" and out["e1"]["resolution"] == 1
    assert out["e2"]["value"] == "v2"
    assert list(upsert_entries(reg, upd).columns) == list(REGISTRY_COLS)


def test_validate_entries_quarantine(spark):
    raw = spark.createDataFrame(
        [("d1", 1, "e1", "p", 0, None, None, False, None),
         ("d1", 0, "e2", "p", 0, None, None, False, None),      # bad page
         ("d1", 2, "e3", None, 0, None, None, False, None),     # no prompt
         ("d1", None, "e4", "p", 0, None, None, False, None)],  # null page
        REG_SCHEMA)
    good, quarantine = validate_entries(raw)
    assert {r["entity_id"] for r in good.collect()} == {"e1"}
    assert {r["entity_id"] for r in quarantine.collect()} == {"e2", "e3", "e4"}


def test_resolve_page_filter(docs_df):
    """P3: --pages restricts resolve to those pages; others stay pending."""
    reg = scan(docs_df)
    reg1 = resolve(docs_df, reg, pages=[1])
    d = {r["page_num"]: r["resolution"]
         for r in reg1.filter(F.col("doc_id") == "doc_digits").collect()}
    assert d[1] == 1          # page 1 resolved
    assert d[2] == 0          # page 2 untouched, still pending
    left = reg1.filter((F.col("doc_id") == "doc_digits")
                       & (F.col("resolution") < 1))
    assert left.count() == 2


def test_kept_text_spans_is_one_map_and_starts_no_job(docs_df, jobs_started):
    """The levels input is the kernel's flat kept-span map: building it
    starts no Spark job, and its plan is MapInArrow with no Exchange."""
    with jobs_started() as jobs:
        kept = kept_text_spans(docs_df)
    assert jobs == []
    plan = kept._sc._jvm.PythonSQLUtils.explainString(
        kept._jdf.queryExecution(), "formatted")
    assert "MapInArrow" in plan
    assert "Exchange" not in plan


def test_null_offset_or_kind_span_gives_no_registry_row(spark):
    """P5: a text span with a null offset or kind is quarantined by the
    kernel, as in ``extract``, so its digit runs give no registry row."""
    df = spark.createDataFrame([("d1", [
        ("text", "The contract number is 7704123456 as filed.", None, 0),
        ("text", "Orphan offset holds 1234567890 here.", None, None),
        (None, "Kindless span holds 5556667778 here.", None, 1)])],
        DOCUMENTS_SCHEMA)
    assert [r["offset"] for r in kept_text_spans(df).collect()] == [0]
    reg = resolve(df, scan(df))
    assert [(r["page_num"], r["value"]) for r in reg.collect()] == [
        (1, "7704123456")]


def _two_spans_at_one_offset(spark):
    return spark.createDataFrame([("d1", [
        ("text", "The contract number is 7704123456 as filed.", None, 0),
        ("text", "A second span at that offset holds 5556667778.", None, 0),
        ("text", "Page two holds the id 1234567890 today.", None, 1)])],
        DOCUMENTS_SCHEMA)


def test_duplicate_offsets_give_one_row_per_scan_row(spark):
    """Two text spans at one offset are one page: scan's keys stay unique,
    and resolve and verify return exactly one row per scan row, each
    voted unanimously by its own axes."""
    df = _two_spans_at_one_offset(spark)
    reg = scan(df)
    keys = [(r["doc_id"], r["entity_id"]) for r in reg.collect()]
    assert len(keys) == 3 and len(set(keys)) == 3
    res = resolve(df, reg).collect()
    assert sorted((r["page_num"], r["value"]) for r in res) == [
        (1, "5556667778"), (1, "7704123456"), (2, "1234567890")]
    ver = verify(df, reg).collect()
    assert sorted((r["doc_id"], r["entity_id"]) for r in ver) == sorted(keys)
    assert {(r["resolution"], r["confidence"], r["verified"])
            for r in ver} == {(2, "3/3", True)}


def _executed_joins(df) -> list[str]:
    """The join operators of ``df``'s executed (AQE-final) plan."""
    import re
    df.collect()
    ep = df._jdf.queryExecution().executedPlan()
    if ep.nodeName() == "AdaptiveSparkPlan":
        ep = ep.executedPlan()
    return re.findall(
        r"^[\s:+\-]*(?:\*\(\d+\)\s*)?((?:\w*Join|CartesianProduct)\b.*)$",
        ep.toString(), re.M)


def test_resolve_and_verify_each_run_one_join(spark):
    """One join per level: the page texts are bound to the registry once,
    no result joins back, and nothing merges by a full outer join."""
    df = _two_spans_at_one_offset(spark)
    reg = scan(df)
    for out in (resolve(df, reg), verify(df, reg),
                verify(df, reg, axes=(1, 2), axis_mode="chunk")):
        joins = _executed_joins(out)
        assert len(joins) == 1, joins
        assert "FullOuter" not in joins[0]


def test_resolve_and_verify_keep_other_rows(spark):
    """Rows outside ``pages``, resolved rows and rows without an
    entity_id pass through resolve unchanged; verify rewrites only rows
    with an entity_id on ``pages``."""
    df = _two_spans_at_one_offset(spark)
    extra = spark.createDataFrame(
        [("d1", 2, "", "digits run 0 on page 2", 0, None, None, False, None),
         ("d1", 1, None, "digits run 0 on page 1", 0, "x", None, False,
          None)], REG_SCHEMA)
    reg = scan(df).unionByName(extra)
    res = {(r["page_num"], r["entity_id"]): r
           for r in resolve(df, reg, pages=[1]).collect()}
    assert len(res) == 5
    assert res[(2, "")]["resolution"] == 0
    assert res[(1, None)]["value"] == "x"
    assert {r["resolution"] for (p, e), r in res.items() if e} == {0, 1}
    assert all(r["resolution"] == (1 if p == 1 else 0)
               for (p, e), r in res.items() if e)
    ver = {(r["page_num"], r["entity_id"]): r
           for r in verify(df, reg, pages=[2]).collect()}
    assert len(ver) == 5
    assert {k: r["resolution"] for k, r in ver.items() if r["resolution"]} \
        == {k: 2 for k in ver if k[0] == 2 and k[1]}


def test_cli_verify_leaves_no_cache_in_a_joined_session(spark, tmp_path):
    """CLI verify in a session it joins persists nothing it leaves behind:
    no registry pin outlives the command."""
    from vlm_ocr_doc_reader_spark.cli import main as cli_main
    from vlm_ocr_doc_reader_spark.datapipe.cache import outstanding_cached
    inp = str(tmp_path / "in.parquet")
    write_documents_parquet(generate_documents(6, seed=3, mega_spans=20),
                            inp)
    before = {id(h) for h in outstanding_cached()}
    assert cli_main(["verify", "--input", inp,
                     "--registry", str(tmp_path / "registry")]) == 0
    assert [h for h in outstanding_cached() if id(h) not in before] == []
