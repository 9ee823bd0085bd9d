r"""Benchmark of the extraction engine: one command, one workload per run.

    python3 perfbench/run.py --workload extract_text --seed 1 \
        --seconds 16 --trace 0

Workloads (closed loop: one Spark driver, one job at a time, on local[N]
with N the host's cores):

* ``extract_text``: ``plans.extract.extract`` (fused) on the seeded
  corpus's docs without media or bbox, mega docs included; every doc takes
  the kernel's fast path, so slow-doc ordering does no work;
* ``resume_extract``: ``cli.main(["extract", "--state", ...])`` over the
  whole corpus (the generator's default mix, a quarter of it slow docs)
  with a seeded half already committed.

A run builds (or reuses) its seeded inputs, starts the session ``SETUPS``
times, then repeats the workload's pass for ``--seconds``.  Each pass's
output is checked against ``extraction.oracle`` after its clock stops.
``--trace 0`` reports the end-to-end metrics: medians over passes of
docs/s, CPU seconds per 1000 docs and peak RSS of the process tree, and
the median set-up time.  ``--trace 1`` reports per-layer metrics instead:
it repeats the passes with spans and Spark status-store reads, runs one
traced pass of the other workloads, the ``plans.levels`` probe, the kernel
microbench and the local[1]/[2]/[4] scaling pass.

Every metric is printed with its unit on stderr; the last line of stdout
is the JSON result.  Inputs are cached under ``.perfbench_cache/`` and
scratch files go to ``.perfbench_work/``, both at the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vlm_ocr_doc_reader_spark"

WORKLOADS = ("extract_text", "resume_extract")
WARMUP_PASSES = 1

LAYERS = ("sources", "plans", "operators.fused", "extraction",
          "plans.levels", "state.manifest", "cli")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fault", choices=("permute",), default=None,
                   help="reverse every output doc's spans before the check")
    return p.parse_args(argv)


def spark_conf(work: str, driver_mb: int) -> dict:
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{driver_mb}m",
        # workers import the package from the repository root, whatever
        # directory the benchmark runs from
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def median(values):
    return statistics.median(values) if values else float("nan")


def end_to_end(passes: list[dict], setups: list[float]) -> dict:
    return {
        "docs_per_s": median([p["docs"] / p["secs"] for p in passes]),
        "cpu_s_per_kdoc": median([p["cpu_s"] * 1000 / p["docs"]
                                  for p in passes]),
        "peak_rss_mb": median([p["rss"] / 1e6 for p in passes]),
        "setup_s": median(setups),
    }


def layer_medians(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: median([r[k] for r in rows if k in r]) for k in keys}


def measure(bench, workload: str, seconds: float,
            alternate: bool) -> tuple[list[dict], list[dict]]:
    """Closed loop: after ``WARMUP_PASSES`` passes, repeat the pass until
    its timed phases add up to about ``seconds`` (a pass starts only while
    half a median pass still fits); set-up for each pass and its check are
    not counted.  With ``alternate``, passes go untraced, traced, traced,
    untraced, ... so neither kind runs first more often.  Returns
    (untraced passes, traced passes)."""
    def one(traced):
        with bench.tracer.recording(traced or not alternate):
            if workload == "resume_extract":
                return bench.resume_pass(traced)
            return bench.extract_pass(traced)

    # the first pass compiles the workload's own code paths (the session
    # starts have already run the fused path); it is checked but not
    # measured
    for _ in range(WARMUP_PASSES):
        bench.run_pass(f"{workload} warm-up", lambda: one(False))
    runs: tuple[list[dict], list[dict]] = ([], [])
    n = 0
    while True:
        done = runs[0] + runs[1]
        spent = sum(p["secs"] for p in done)
        typical = median([p["secs"] for p in done]) if done else 0.0
        over = bool(done) and spent + typical / 2 > seconds
        if over and (runs[1] or not alternate):
            break
        if bench.failed >= 3:
            break  # the workload cannot complete on this tree
        traced = alternate and n % 4 in (1, 2)   # untraced, traced x2, ...
        n += 1
        res = bench.run_pass(workload, lambda: one(traced))
        if res is not None:
            runs[traced].append(res)
    return runs


def traced_layers(bench, workload, passes, untraced) -> dict:
    """Per-layer metrics of a traced run (see the module docstring)."""
    import kernel
    out = {}
    by_slice = {workload: passes}
    for other in ("extract_text", "resume_extract"):
        if other not in by_slice:
            res = bench.run_pass(other, lambda: (
                bench.resume_pass(True) if other == "resume_extract"
                else bench.extract_pass(True)))
            by_slice[other] = [res] if res is not None else []
    own = layer_medians([p["layers"] for p in passes])
    text = layer_medians([p["layers"] for p in by_slice["extract_text"]])
    for k in ("jobs", "stages", "tasks", "executor_run_ms",
              "executor_cpu_ms", "jvm_gc_ms", "shuffle_write_bytes",
              "shuffle_read_bytes"):
        out[f"plans.{k}"] = own.get(f"plans.{k}", math.nan)
    for k in ("plans.task_ms_p50", "plans.task_ms_max", "sources.scan_ms",
              "sources.bytes_read", "sources.files_read"):
        out[k] = text.get(k, math.nan)
    out.update({k: v for k, v in text.items() if k.startswith("fused.")})
    out["plans.extract_call_s"] = median(
        [p["extract_call_s"] for p in by_slice["extract_text"]])
    resume = by_slice["resume_extract"]
    for k in ("state.pending_s", "state.output_write_s", "state.commit_s",
              "state.read_committed_s", "state.pending_docs",
              "state.manifest_rows", "state.manifest_files",
              "state.written_bytes_per_input_byte"):
        out[k] = median([p[k] for p in resume])
    levels = bench.levels_probe()
    if levels is not None:
        out.update(levels)
    out.update(kernel.run(bench.inputs.path("text", "input.parquet"),
                          bench.inputs.path("layout", "input.parquet"),
                          bench.tracer))
    out.update(bench.scaling())
    self_s = bench.tracer.self_times()
    for layer in LAYERS:
        out[f"trace.self_s.{layer}"] = self_s.get(layer, 0.0)
    t_traced = median([p["secs"] for p in passes])
    t_plain = median([p["secs"] for p in untraced])
    out["trace.overhead_share"] = (t_traced - t_plain) / t_plain
    out["trace.spans"] = len(bench.tracer.spans)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    host.become_subreaper()
    # a SIGTERM unwinds through the cleanup below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file inside the checkout: Python's (py4j's handshake,
    # the workers'), and the JVMs', whose perf-data files would go to /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")))
    try:
        return _run(args, work)
    finally:
        # on every way out: no JVM, Python worker or input builder outlives
        # the run
        host.end_descendants()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))


def _run(args, work: str) -> int:
    import inputs as inputs_mod
    from tracer import Tracer
    from workloads import Bench

    cores = host.cores()
    mem_mb = host.mem_total_mb()
    driver_mb = host.driver_memory_mb(mem_mb)
    print(f"host: cores={cores} mem_total_mb={mem_mb} "
          f"master=local[{cores}] driver_memory_mb={driver_mb}",
          file=sys.stderr)
    cache = os.path.join(ROOT, ".perfbench_cache")
    inputs = inputs_mod.Inputs(cache, args.seed, cores)
    if not inputs.ready():
        subprocess.run([sys.executable, inputs_mod.__file__, cache,
                        str(args.seed), str(cores)],
                       env={**os.environ, "PYTHONPATH": ROOT}, check=True)
    print(f"inputs: {json.dumps(inputs.meta(), sort_keys=True)}",
          file=sys.stderr)

    tracer = Tracer(enabled=bool(args.trace))
    with host.TreeSampler() as sampler:
        bench = Bench(inputs, work, spark_conf(work, driver_mb), cores,
                      sampler, tracer, args.fault)
        try:
            starts, setups = bench.setup()
            # a traced run measures half as long: its probes of the other
            # layers take the rest of its time
            untraced, passes = measure(
                bench, args.workload,
                args.seconds / 2 if args.trace else args.seconds,
                alternate=bool(args.trace))
            for label, rows in (("untraced", untraced), ("traced", passes)):
                if rows:
                    print(f"passes ({label}): " + ", ".join(
                        f"{p['secs']:.3f}s/{p['cpu_s']:.2f}cpu-s/"
                        f"{p['rss'] / 1e6:.0f}MB" for p in rows),
                          file=sys.stderr)
            print("setups: " + ", ".join(f"{s:.3f}s" for s in setups),
                  file=sys.stderr)
            if args.trace:
                metrics = traced_layers(bench, args.workload, passes,
                                        untraced)
                metrics["sources.session_start_s"] = median(starts)
            else:
                metrics = end_to_end(untraced, setups)
            metrics["failed_share"] = bench.failed / max(1, bench.attempted)
        finally:
            _shutdown(bench.spark)
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".perfbench_cache",
                                 f"trace-{args.workload}-{args.seed}.json"))

    units = _units("per_layer" if args.trace else "end_to_end")
    shown, missing = {}, []
    for name in sorted(set(metrics) | set(units)):
        value = metrics.get(name)
        unit = units.get(name, "")
        print(f"  {name} = {value!r} {unit}", file=sys.stderr)
        if name not in units:
            continue
        if isinstance(value, (int, float)) and math.isfinite(value):
            shown[name] = {"value": value, "unit": unit}
        else:
            missing.append(name)
    correct = bench.failed == 0
    print(f"check: {'PASS' if correct else 'FAIL'}: "
          f"{bench.attempted - bench.failed}/{bench.attempted} passes "
          f"match the oracle; metrics not measured: {missing or 'none'}",
          file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": shown}))
    return 0


def _units(section: str) -> dict:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit; the Python
    workers end with the session."""
    if spark is None:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
