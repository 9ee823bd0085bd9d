"""full_description front door (DocumentData analog) + heading-level
recovery (D6 HeaderInfo parity: schemas/document.py:7-18)."""

import pyspark.sql.functions as F
import pytest

from vlm_ocr_doc_reader_spark.extraction import spec
from vlm_ocr_doc_reader_spark.plans.describe import (document_structure,
                                                     full_description,
                                                     heading_level_col,
                                                     heading_title_col)
from vlm_ocr_doc_reader_spark.sources.readers import DOCUMENTS_SCHEMA


@pytest.mark.parametrize("cleaned,level,title", [
    ("# Top", 1, "Top"),
    ("## Second Level", 2, "Second Level"),
    ("###### Deep", 6, "Deep"),
    ("######### Capped", 6, "Capped"),
    ("Short", 1, "Short"),
    ("Two Words", 1, "Two Words"),
    ("Three Word Title", 2, "Three Word Title"),
    ("A Four Word Title", 2, "A Four Word Title"),
    ("This Is A Longer Heading Title", 3,
     "This Is A Longer Heading Title"),
    ("##", 2, ""),
    ("Раздел Один", 1, "Раздел Один"),          # unicode heading
    ("### Раздел Два Снова", 3, "Раздел Два Снова"),
])
def test_heading_level_spec(cleaned, level, title):
    assert spec.heading_level(cleaned) == level
    assert spec.heading_title(cleaned) == title


def test_heading_level_column_parity(spark):
    vals = ["# Top", "## Second Level", "###### Deep", "######### Capped",
            "Short", "Two Words", "Three Word Title", "A Four Word Title",
            "This Is A Longer Heading Title", "##",
            "Раздел Один", "### Раздел Два Снова"]
    df = spark.createDataFrame([(v,) for v in vals], "c string")
    got = df.select(heading_level_col(F.col("c")).alias("l"),
                    heading_title_col(F.col("c")).alias("t")).collect()
    for v, r in zip(vals, got):
        assert r["l"] == spec.heading_level(v), v
        assert r["t"] == spec.heading_title(v), v


def test_heading_level_parity_fuzz(spark):
    """300 seeded pseudo-random cleaned-heading strings (hash runs, words,
    single spaces — the post-clean_text alphabet): spec and Catalyst twins
    must agree on every (level, title)."""
    import random
    rng = random.Random(31)
    vals = []
    for _ in range(300):
        parts = []
        if rng.random() < 0.5:
            parts.append("#" * rng.randint(1, 9))
            if rng.random() < 0.8:
                parts.append(" ")
        parts.append(" ".join(
            rng.choice(["Alpha", "beta", "Γάμμα", "дельта", "x"])
            for _ in range(rng.randint(0, 7))).strip())
        vals.append("".join(parts).strip())
    df = spark.createDataFrame([(v,) for v in vals], "c string")
    got = df.select(heading_level_col(F.col("c")).alias("l"),
                    heading_title_col(F.col("c")).alias("t")).collect()
    for v, r in zip(vals, got):
        assert r["l"] == spec.heading_level(v), repr(v)
        assert r["t"] == spec.heading_title(v), repr(v)


@pytest.fixture()
def docs(spark):
    rows = [
        ("d1", [("heading", "## Intro Section", None, 0),
                ("text", "First body sentence stands here.", None, 1),
                ("heading", "Long Heading With Many Words Inside", None, 2),
                ("text", "Second body sentence stands here.", None, 3),
                ("boilerplate", "copyright 2026", None, 4)]),
        ("d2", [("text", "Only content in this one document.", None, 0)]),
        ("d_empty", []),
    ]
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


def test_document_structure(docs):
    got = sorted((r["doc_id"], r["level"], r["title"], r["page_num"])
                 for r in document_structure(docs).collect())
    assert got == [
        ("d1", 2, "Intro Section", 1),
        ("d1", 3, "Long Heading With Many Words Inside", 3),
    ]


def test_full_description_shape_and_content(docs):
    out = {r["doc_id"]: r for r in full_description(docs).collect()}
    assert set(out) == {"d1", "d2", "d_empty"}
    d1 = out["d1"]
    assert d1["text"] == ("First body sentence stands here.\n\n"
                          "Second body sentence stands here.")
    assert [(h["level"], h["title"], h["page"]) for h in d1["headers"]] == [
        (2, "Intro Section", 1),
        (3, "Long Heading With Many Words Inside", 3)]
    assert d1["tables"] == []
    assert out["d2"]["text"] == "Only content in this one document."
    assert out["d2"]["headers"] == []
    assert out["d_empty"]["text"] == "" and out["d_empty"]["headers"] == []
