"""The workloads' passes, their output checks, and the traced-run probes.

A pass is one closed-loop job on the shared session: the benchmark
submits it and waits for it before the next starts.  Every pass runs under
its own job group so ``sparkstats`` can read that pass's jobs and SQL
executions.
Checks run after the pass's clock has stopped; a pass that raises or whose
output differs from the oracle counts as failed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from vlm_ocr_doc_reader_spark import cli
from vlm_ocr_doc_reader_spark.plans.extract import extract
from vlm_ocr_doc_reader_spark.plans.levels import (kept_text_spans, resolve,
                                                   scan, verify)
from vlm_ocr_doc_reader_spark.sources.session import get_spark
from vlm_ocr_doc_reader_spark.state.manifest import (pending_docs,
                                                     read_committed)

from host import wall
from sparkstats import SparkStats, node_total

SETUPS = 3   # session starts per run; setup_s is their median
# fixed names: with one JVM thread and one Python worker per task, local[4]
# oversubscribes a 4-core host, so these are not end-to-end metrics
SCALING_LEVELS = (1, 2, 4)
# get_spark's spark.sql.execution.arrow.maxRecordsPerBatch
ARROW_BATCH_ROWS = 512
# the write target in an execution's formatted physical plan
_INSERT = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n[^\n]*\n"
                     r"Arguments: (?:file:)?([^,\s]+),")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def digest(df):
    """Digest of an extraction output that ignores row order: doc count,
    span count, distinct doc_ids, and the XOR of a 64-bit hash of every
    (doc_id, spans) row.  A changed, missing, duplicated or reordered span
    changes it."""
    return (df.select("doc_id", "spans")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum(F.size("spans")).alias("spans"),
                 F.bit_xor(F.xxhash64("doc_id", "spans")).alias("xor"),
                 F.count_distinct("doc_id").alias("distinct_ids")))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Bench:
    """One run: the session, its sampler and tracer, inputs and scratch."""

    def __init__(self, inputs, work: str, conf: dict, cores: int,
                 sampler, tracer, fault: str | None):
        self.inputs = inputs
        self.work = work
        self.conf = conf
        self.cores = cores
        self.sampler = sampler
        self.tracer = tracer
        self.fault = fault
        self.spark = None
        self.stats = None
        self.attempted = 0
        self.failed = 0
        self._group = 0
        self._expected: dict[str, dict] = {}

    # -- session -----------------------------------------------------------
    def start(self, master: str) -> tuple[float, float]:
        """Start a session and run the warm-up pass that starts the Python
        workers.  Returns (session start s, session start + warm-up s)."""
        if self.spark is not None:
            self.spark.stop()
        t0 = wall()
        with self.tracer.span("session_start", "sources"):
            self.spark = get_spark(master=master, extra_conf=self.conf)
        t1 = wall()
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("warmup", "plans"):
            extract(self.spark.read.parquet(self.inputs.warmup())) \
                .write.format("noop").mode("overwrite").save()
        self.stats = SparkStats(self.spark)
        return t1 - t0, wall() - t0

    def setup(self) -> tuple[list[float], list[float]]:
        starts, setups = [], []
        for _ in range(SETUPS):
            s, total = self.start(f"local[{self.cores}]")
            starts.append(s)
            setups.append(total)
        return starts, setups

    def group(self, label: str) -> str:
        self._group += 1
        g = f"perfbench-{self._group}-{label}"
        self.spark.sparkContext.setJobGroup(g, label)
        return g

    def expected(self, name: str) -> dict:
        """The oracle output's digest, computed once per seed and cached."""
        if name not in self._expected:
            path = self.inputs.path(name, "expected-digest.json")
            if not os.path.exists(path):
                self.group(f"expected-{name}")
                exp = self.spark.read.parquet(
                    self.inputs.path(name, "expected.parquet"))
                with open(path + f".tmp{os.getpid()}", "w") as f:
                    json.dump(digest(exp).collect()[0].asDict(), f)
                os.replace(path + f".tmp{os.getpid()}", path)
            with open(path) as f:
                self._expected[name] = json.load(f)
        return self._expected[name]

    def _permute(self, df):
        """``--fault permute``: reverse every doc's spans before the check,
        to show that the check fails a wrong output."""
        if self.fault == "permute":
            return df.withColumn("spans", F.reverse("spans"))
        return df

    def _verdict(self, name: str, got: dict, label: str) -> bool:
        exp = self.expected(name)
        ok = (got["docs"] == exp["docs"] and got["spans"] == exp["spans"]
              and got["xor"] == exp["xor"]
              and got["distinct_ids"] == exp["docs"])
        if not ok:
            log(f"check failed: {label}: got {got}, oracle {exp}")
        return ok

    def run_pass(self, label: str, fn) -> dict | None:
        """Run one pass; a raise counts as failed and returns None."""
        self.attempted += 1
        try:
            res = fn()
        except Exception:  # a failed pass is a result, not a crash
            log(f"pass raised: {label}\n{traceback.format_exc()}")
            self.failed += 1
            return None
        if not res.pop("ok"):
            self.failed += 1
        return res

    # -- extraction passes -------------------------------------------------
    def extract_pass(self, traced: bool) -> dict:
        """``plans.extract.extract`` (fused) on the text slice; the sink is
        the digest aggregate, so every output span is computed and hashed in
        the JVM and only one row returns to the Spark driver."""
        spark = self.spark
        spark.catalog.clearCache()
        group = self.group("extract-text")
        cpu0 = self.sampler.begin()
        t0 = wall()
        with self.tracer.span("pass.extract_text", "plans"):
            with self.tracer.span("read", "sources"):
                docs = spark.read.parquet(
                    self.inputs.path("text", "input.parquet"))
            with self.tracer.span("extract_call", "plans"):
                out = extract(docs)
            t1 = wall()
            row = digest(self._permute(out)).collect()[0].asDict()
        secs = wall() - t0
        cpu, rss = self.sampler.end(cpu0)
        res = {"secs": secs, "cpu_s": cpu, "rss": rss,
               "docs": self.inputs.meta()["text_docs"],
               "extract_call_s": t1 - t0,
               "ok": self._verdict("text", row, "extract_text")}
        if traced:
            res["layers"] = self._spark_layers(group)
        return res

    def _spark_layers(self, group: str) -> dict:
        st = self.stats.stages(group)
        ex = self.stats.executions(group)
        batches = sum(-(-r // ARROW_BATCH_ROWS)
                      for r in st.pop("heaviest_task_records"))
        return {
            **{f"plans.{k}": st[k] for k in (
                "jobs", "stages", "tasks", "executor_run_ms",
                "executor_cpu_ms", "jvm_gc_ms", "task_ms_p50", "task_ms_max",
                "shuffle_write_bytes", "shuffle_read_bytes")},
            "sources.bytes_read": node_total(ex, "Scan parquet",
                                             "size of files read"),
            "sources.scan_ms": node_total(ex, "Scan parquet", "scan time"),
            "sources.files_read": node_total(ex, "Scan parquet",
                                             "number of files read"),
            "fused.py_worker_start_ms": node_total(
                ex, "MapInArrow", "time to start Python workers"),
            "fused.py_worker_init_ms": node_total(
                ex, "MapInArrow", "time to initialize Python workers"),
            "fused.py_run_ms": node_total(
                ex, "MapInArrow", "time to run Python workers"),
            "fused.bytes_to_py": node_total(
                ex, "MapInArrow", "data sent to Python workers"),
            "fused.bytes_from_py": node_total(
                ex, "MapInArrow", "data returned from Python workers"),
            "fused.arrow_batches": batches,
        }

    # -- resume pass -------------------------------------------------------
    def _resume_template(self) -> str:
        """Output and state dirs with the seeded half committed, made once
        per seed by the CLI itself and cached next to the inputs."""
        tmpl = self.inputs.path("resume", "template")
        if not os.path.exists(tmpl):
            tmp = tmpl + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            self.group("resume-template")
            cli.main(["extract",
                      "--input", self.inputs.path("resume", "half.parquet"),
                      "--output", os.path.join(tmp, "out"),
                      "--state", os.path.join(tmp, "state")])
            os.replace(tmp, tmpl)
        return tmpl

    def resume_pass(self, traced: bool) -> dict:
        """``cli.main(["extract", "--state", ...])`` over the whole corpus
        with half of it already committed."""
        spark = self.spark
        tmpl = self._resume_template()
        dst = os.path.join(self.work, "resume")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(tmpl, dst)
        inp = self.inputs.path("resume", "input.parquet")
        out, state = os.path.join(dst, "out"), os.path.join(dst, "state")
        spark.catalog.clearCache()
        res = {}
        bytes0 = _dir_bytes(dst)
        group = self.group("resume")
        cpu0 = self.sampler.begin()
        t0 = wall()
        with self.tracer.span("cli.main extract", "cli") as sid:
            cli.main(["extract", "--input", inp, "--output", out,
                      "--state", state])
        secs = wall() - t0
        cpu, rss = self.sampler.end(cpu0)
        meta = self.inputs.meta()
        res.update({"secs": secs, "cpu_s": cpu, "rss": rss,
                    "docs": meta["resume_docs"]
                    - meta["resume_committed_docs"]})
        # check: the consumer view equals the oracle, one row per doc, and
        # the manifest holds exactly one row per doc
        self.group("resume-check")
        t0 = wall()
        with self.tracer.span("read_committed", "state.manifest"):
            row = digest(self._permute(read_committed(
                spark, out, state, "extract"))).collect()[0].asDict()
        res["state.read_committed_s"] = wall() - t0
        manifest = pq.read_table(os.path.join(state, "manifest"),
                                 columns=["doc_id"]).column("doc_id")
        n_manifest = len(manifest)
        ok = self._verdict("resume", row, "resume read_committed")
        if n_manifest != meta["resume_docs"] or \
                len(manifest.unique()) != n_manifest:
            log(f"check failed: manifest has {n_manifest} rows for "
                f"{meta['resume_docs']} docs")
            ok = False
        res["ok"] = ok
        if traced:
            # the manifest anti-join on its own, against a fresh copy of the
            # committed half, after the timed pass so it warms nothing
            fresh = os.path.join(self.work, "resume-pending")
            shutil.rmtree(fresh, ignore_errors=True)
            shutil.copytree(os.path.join(tmpl, "state"), fresh)
            self.group("resume-pending")
            t0 = wall()
            with self.tracer.span("pending_docs", "state.manifest"):
                res["state.pending_docs"] = pending_docs(
                    spark.read.parquet(inp), spark, fresh, "extract").count()
            res["state.pending_s"] = wall() - t0
            res["layers"] = self._spark_layers(group)
            res.update(self._resume_sql(group, sid, out, state))
            res["state.manifest_rows"] = n_manifest
            res["state.manifest_files"] = sum(
                1 for f in os.listdir(os.path.join(state, "manifest"))
                if f.endswith(".parquet"))
            res["state.written_bytes_per_input_byte"] = (
                (_dir_bytes(dst) - bytes0) / os.path.getsize(inp))
        return res

    def _resume_sql(self, group: str, parent, out: str,
                    state: str) -> dict:
        """Attribute the SQL executions the CLI ran inside its span: the
        mega-doc probe, the output write, the manifest and metrics
        appends."""
        kinds = {"probe": 0.0, "output_write": 0.0, "manifest_append": 0.0,
                 "metrics_append": 0.0}
        for e in self.stats.executions(group):
            target = _INSERT.search(e["plan"])
            path = target.group(1) if target else ""
            if path == os.path.join(state, "manifest"):
                kind, layer = "manifest_append", "state.manifest"
            elif path == os.path.join(state, "metrics"):
                kind, layer = "metrics_append", "state.manifest"
            elif path == out:
                kind, layer = "output_write", "plans"
            else:
                kind, layer = "probe", "plans"
            end = e["end"] if e["end"] is not None else e["start"]
            kinds[kind] += end - e["start"]
            if parent is not None:
                self.tracer.add(f"sql.{kind}", layer, e["start"], end,
                                parent=parent)
        return {"state.output_write_s": kinds["output_write"],
                "state.commit_s": kinds["manifest_append"]
                + kinds["metrics_append"]}

    # -- levels probe ------------------------------------------------------
    def levels_probe(self) -> dict:
        """``plans.levels`` scan -> resolve -> verify on the ID-injected
        docs, each step materialized so it can be timed on its own, then the
        registry check: every injected ID that survives classification is
        resolved with resolution 2, confidence 3/3 and its exact value."""
        spark = self.spark
        spark.catalog.clearCache()
        path = os.path.join(self.work, "registry")
        out = {}

        def step(name, fn):
            self.group(f"levels-{name}")
            t0 = wall()
            with self.tracer.span(f"levels.{name}", "plans.levels"):
                value = fn()
            out[f"levels.{name}_s"] = wall() - t0
            return value

        def body():
            docs = spark.read.parquet(
                self.inputs.path("levels", "input.parquet"))
            kept = kept_text_spans(docs).persist()
            out["levels.kept_spans"] = step("kept", kept.count)
            reg = scan(docs, kept=kept).persist()
            out["levels.registry_rows"] = step("scan", reg.count)
            reg = resolve(docs, reg, kept=kept).persist()
            step("resolve", reg.count)
            reg = verify(docs, reg, kept=kept).persist()
            step("verify", reg.count)
            step("write", lambda: reg.write.mode("overwrite").parquet(path))
            spark.catalog.clearCache()
            return {"ok": self._check_registry(path), **out}

        return self.run_pass("levels probe", body)

    def _check_registry(self, path: str) -> bool:
        with open(self.inputs.path("levels", "registry.json")) as f:
            expected = json.load(f)
        rows = {(r["doc_id"], r["page_num"]): r for r in pq.read_table(
            path, columns=["doc_id", "page_num", "resolution", "value",
                           "confidence"]).to_pylist()}
        bad = [e for e in expected
               if (r := rows.get((e[0], e[1]))) is None
               or (r["resolution"], r["confidence"], r["value"])
               != (2, "3/3", e[2])]
        if bad or len(rows) != len(expected):
            log(f"check failed: registry has {len(rows)} rows for "
                f"{len(expected)} IDs; {len(bad)} IDs wrong, e.g. {bad[:3]}")
            return False
        return True

    # -- scaling -----------------------------------------------------------
    def scaling(self) -> dict:
        """extract_text at local[1], local[2] and local[4], one pass each
        after the warm-up; the session is left at the last level."""
        dps = {}
        for k in SCALING_LEVELS:
            with self.tracer.span(f"scaling.local{k}", "plans"):
                self.start(f"local[{k}]")
                res = self.run_pass(f"scaling local[{k}]",
                                    lambda: self.extract_pass(False))
            if res is not None:
                dps[k] = res["docs"] / res["secs"]
        out = {f"plans.scaling.docs_per_s.local{k}": v for k, v in dps.items()}
        if 1 in dps:
            for k in (2, 4):
                if k in dps:
                    out[f"plans.scaling.eff_1_to_{k}"] = dps[k] / (k * dps[1])
        return out

