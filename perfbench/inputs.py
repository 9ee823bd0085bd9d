"""Seeded benchmark inputs, cached on disk per (seed, size).

One corpus per seed comes from ``fixtures.generate.generate_documents``
(its default mix: 60% plain, 15% boilerplate-heavy, 15% media, 10% layout,
plus 0.1% mega docs and the fixed edge docs).  The workloads take slices
of it by shape:

* ``text``: docs with no media span and no bbox, so every doc takes the
  kernel's fast path; the mega docs are in this slice;
* ``layout``: docs with a media reference or a bbox on every span, so
  every doc takes the slow path (the kernel microbench's slow batch);
* ``resume``: the whole corpus, with a seeded half marked as committed;
* ``levels``: a second, smaller corpus of ``LEVELS_DOCS`` docs from the
  same generator and seed (so with its own mega docs), with seeded
  10-digit IDs appended to some text spans; the expected registry is
  recorded.

Expected outputs come from ``extraction.oracle.extract_doc`` and are
written next to each input, so a run compares against the oracle without
recomputing it.  Writes go to a temporary directory renamed into place, so
an interrupted build leaves no partial cache entry.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from vlm_ocr_doc_reader_spark.extraction import spec
from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
from vlm_ocr_doc_reader_spark.fixtures.generate import (
    generate_documents, write_documents_parquet)

CORPUS_DOCS = 8_000    # docs generated per seed
LEVELS_DOCS = 1_000
WARMUP_DOCS = 256
MEGA_SPANS = 1_000     # docs at least this long are mega docs
ID_SHARE = 0.2         # share of text spans that get an injected ID
_FORMAT = 3            # bump when the cached layout changes

OUT_SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("order", pa.int32())]))


def is_slow(spans) -> bool:
    """A doc the kernel orders in Python: a kept media span, or a bbox on
    every kept span (the kernel's own fast/slow rule, stated on the raw
    shape the generator gives each slice)."""
    if any(k in ("image", "table") and m for k, _, m, _ in spans):
        return True
    return bool(spans) and all(
        t is not None and t.startswith("@@bbox:") for _, t, _, _ in spans)


def is_fast(spans) -> bool:
    """No media span and no bbox: the kernel keeps offset order."""
    return not any(k in ("image", "table")
                   or (t is not None and t.startswith("@@bbox:"))
                   for k, t, _, _ in spans)


def _write_expected(expected, path: str) -> None:
    ids = [d for d, _ in expected]
    spans = [[{"kind": k, "text": t, "media_ref": m, "order": o}
              for k, t, m, o in out] for _, out in expected]
    pq.write_table(pa.table({"doc_id": ids, "spans": pa.array(
        spans, type=OUT_SPAN_TYPE)}), path)


def _inject_ids(docs, seed: int):
    """Append a seeded 10-digit ID to some text spans.  Returns the new docs
    and the expected registry: one (doc_id, page_num, value) per ID whose
    span survives classification (checked with the shared spec rules)."""
    rng = random.Random(seed * 7_919 + 1)
    out, expected = [], []
    for doc_id, spans in docs:
        new = []
        for kind, text, mref, off in spans:
            if kind == "text" and text is not None and off is not None \
                    and rng.random() < ID_SHARE:
                value = str(rng.randrange(10**9, 10**10))
                text = f"{text} ref {value}."
                cleaned = spec.clean_text(spec.strip_bbox(text))
                if spec.classify_keep(kind, cleaned, mref):
                    expected.append((doc_id, off + 1, value))
            new.append((kind, text, mref, off))
        out.append((doc_id, new))
    return out, expected


class Inputs:
    """Paths of one seed's cached inputs; ``ensure`` builds what is missing."""

    def __init__(self, cache_root: str, seed: int, cores: int):
        self.seed = seed
        self.cores = cores
        self.dir = os.path.join(
            cache_root, f"v{_FORMAT}-seed{seed}-n{CORPUS_DOCS}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def meta(self) -> dict:
        with open(self.path("meta.json")) as f:
            return json.load(f)

    def warmup(self) -> str:
        """A small doc set split into one file per core, so the warm-up
        pass starts every Python worker."""
        return self.path(f"warmup-{self.cores}")

    def ready(self) -> bool:
        return os.path.exists(self.path("meta.json")) and \
            os.path.exists(self.warmup())

    def ensure(self) -> None:
        if not os.path.exists(self.path("meta.json")):
            self._build()
        if not os.path.exists(self.warmup()):
            tmp = self.warmup() + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            write_documents_parquet(
                generate_documents(WARMUP_DOCS, seed=self.seed + 1,
                                   mega_spans=100),
                tmp, shards=self.cores)
            os.replace(tmp, self.warmup())

    def _build(self) -> None:
        tmp = self.dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        docs = generate_documents(CORPUS_DOCS, seed=self.seed)
        expected = {d: extract_doc(s) for d, s in docs}
        meta = {"seed": self.seed, "corpus_docs": len(docs)}
        slices = {
            "text": [d for d in docs if is_fast(d[1])],
            "layout": [d for d in docs if is_slow(d[1])],
            "resume": docs,
        }
        for name, sl in slices.items():
            os.makedirs(os.path.join(tmp, name))
            write_documents_parquet(
                sl, os.path.join(tmp, name, "input.parquet"))
            if name != "layout":  # the layout slice feeds the microbench
                _write_expected([(d, expected[d]) for d, _ in sl],
                                os.path.join(tmp, name, "expected.parquet"))
            meta[f"{name}_docs"] = len(sl)
            meta[f"{name}_spans"] = sum(len(s) for _, s in sl)
        # resume: a seeded half is committed before each timed pass; mega
        # docs and the rest are halved separately, so every seed leaves the
        # same number of mega docs pending
        rng = random.Random(self.seed * 104_729 + 3)
        half = []
        for stratum in (
                [i for i, (_, s) in enumerate(docs) if len(s) >= MEGA_SPANS],
                [i for i, (_, s) in enumerate(docs) if len(s) < MEGA_SPANS]):
            half += rng.sample(stratum, len(stratum) // 2)
        half.sort()
        write_documents_parquet([docs[i] for i in half],
                                os.path.join(tmp, "resume", "half.parquet"))
        meta["resume_committed_docs"] = len(half)
        levels, registry = _inject_ids(
            generate_documents(LEVELS_DOCS, seed=self.seed), self.seed)
        os.makedirs(os.path.join(tmp, "levels"))
        write_documents_parquet(
            levels, os.path.join(tmp, "levels", "input.parquet"))
        with open(os.path.join(tmp, "levels", "registry.json"), "w") as f:
            json.dump(registry, f)
        meta["levels_docs"] = len(levels)
        meta["levels_ids"] = len(registry)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)


if __name__ == "__main__":
    # run as a subprocess, so the measuring process holds no generated
    # corpus whether or not the cache was warm:
    #     inputs.py CACHE_ROOT SEED CORES
    import sys
    Inputs(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])).ensure()
