"""spark-submit entry point — mirror of the reference CLI
(/root/reference/02_src/vlm_ocr_doc_reader/cli.py:298-381) with corpus-level
commands instead of one-PDF commands:

  spark-submit --py-files vlm_ocr_doc_reader_spark.zip -m ... cli.py \
      extract --input <documents.parquet> --output <dir> --state <dir>
  ... scan|resolve|verify --input ... --registry <dir>

Every command is resumable: inputs are anti-joined against the checkpoint
manifest before any work (J7), and completions are committed per run.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from .plans.extract import extract
from .plans.levels import resolve, scan, verify
from .sources.readers import read_documents
from .sources.session import get_spark
from .state.manifest import check_output_layout, commit_run, pending_docs


def parse_pages_arg(arg: str) -> list[int]:
    """'1,2,5-7' -> [1,2,5,6,7] (cli.py:47-86): driver-side tiny parse."""
    out: set[int] = set()
    for part in arg.split(","):
        part = part.strip()
        if not part:
            continue
        if "-" in part:
            lo_s, hi_s = part.split("-", 1)
            lo, hi = int(lo_s), int(hi_s)
            if lo > hi:
                raise ValueError(f"invalid range {part!r}: lo > hi")
            out.update(range(lo, hi + 1))
        else:
            out.add(int(part))
    if any(p < 1 for p in out):
        raise ValueError("pages are 1-based")
    return sorted(out)


def parse_axes_arg(arg: str) -> tuple[int, ...]:
    """'1,3,5' -> (1,3,5) (cli.py:89-108)."""
    axes = tuple(int(x) for x in arg.split(",") if x.strip())
    if not axes or any(a < 1 for a in axes):
        raise ValueError("axes must be positive ints")
    return axes


def _run_extract(spark: SparkSession, args) -> None:
    """Resumable extract with atomic commit semantics: outputs are tagged
    with a run_id and written FIRST, the manifest referencing that run_id is
    committed LAST.  A crash in between leaves orphan rows that
    ``read_committed`` filters on read and the next run reprocesses — never
    duplicate committed docs, never lost ones.

    run_id is a NORMAL column (not partitionBy): legacy outputs written
    without any run_id are plain flat parquet, and Spark's partition
    discovery rejects a directory mixing flat files with run_id=
    subdirectories — one flat layout lets old and new files coexist
    (``read_committed`` merge-reads both).  A directory already written by
    the old partitioned layout is refused with a migration message rather
    than corrupted in place.

    A resumed run is 3 Spark jobs: the pending anti-join's manifest
    broadcast, the output write and the manifest commit.  The input is read
    with its pinned schema (``read_documents``: no schema-inference job,
    null doc_ids dropped), building the ``extract`` plan runs none, and the
    commit reads only the run's ``doc_id`` and ``spans.order`` back
    (``commit_run``)."""
    try:
        check_output_layout(args.output)
    except ValueError as e:  # library raises; the CLI owns process exit
        raise SystemExit(str(e))
    docs = read_documents(spark, args.input)
    if args.state:
        docs = pending_docs(docs, spark, args.state, "extract")
    commit_run(extract(docs), spark, args.output, args.state, "extract")


def _run_levels(spark: SparkSession, args) -> None:
    from pyspark import StorageLevel

    from .plans.levels import kept_text_spans
    docs = read_documents(spark, args.input)
    pages = parse_pages_arg(args.pages) if getattr(args, "pages", None) \
        else None
    # classify the corpus ONCE for the whole chain (scan/resolve/verify all
    # consume the same kept-text frame); MEMORY_AND_DISK so big slices spill
    kept = kept_text_spans(docs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        reg = scan(docs, kept=kept)
        if args.command in ("resolve", "verify"):
            reg = resolve(docs, reg, pages=pages, kept=kept)
        if args.command == "verify":
            reg = verify(docs, reg, axes=parse_axes_arg(args.axes),
                         pages=pages, kept=kept,
                         axis_mode=getattr(args, "axis_mode", "fanout"))
        reg.write.mode("overwrite").parquet(args.registry)
    finally:
        kept.unpersist()


def _run_diff(spark: SparkSession, args) -> None:
    """Diff two extraction output directories (the `extract` command's
    parquet shape).  A resumed/crashed job can leave one doc under more
    than one run_id; the consumer view keeps the newest run's spans per
    doc (deterministic max_by on run_id) before comparing."""
    from pyspark.sql import functions as F

    from .operators.regression import extraction_diff, \
        extraction_diff_summary

    def _load_run(path):
        df = spark.read.parquet(path)
        if "run_id" in df.columns:
            df = (df.groupBy("doc_id")
                  .agg(F.max_by("spans", "run_id").alias("spans")))
        return df

    diff = extraction_diff(_load_run(args.run_a), _load_run(args.run_b))
    diff.write.mode("overwrite").parquet(args.output)
    if args.summary:
        for row in sorted(extraction_diff_summary(
                spark.read.parquet(args.output)).collect()):
            print(f"{row['status']}\t{row['n_docs']}")


def main(argv: list[str] | None = None) -> int:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--master", default=None)

    p = argparse.ArgumentParser(prog="vlm-ocr-doc-reader-spark",
                                parents=[common])
    sub = p.add_subparsers(dest="command", required=True)

    pe = sub.add_parser("extract", parents=[common])
    pe.add_argument("--input", required=True)
    pe.add_argument("--output", required=True)
    pe.add_argument("--state", default=None)

    # the reference CLI's front door (cli.py:242,362): one DocumentData-
    # shaped row per doc (text + structure.headers + empty tables)
    pf = sub.add_parser("describe", parents=[common])
    pf.add_argument("--input", required=True)
    pf.add_argument("--output", required=True)

    # regression gate between two extraction outputs (A/B an extractor
    # version before rolling it over the full corpus): per-doc
    # span-sequence verdict + optional 4-row rollup
    pdiff = sub.add_parser("diff", parents=[common])
    pdiff.add_argument("--run-a", required=True)
    pdiff.add_argument("--run-b", required=True)
    pdiff.add_argument("--output", required=True)
    pdiff.add_argument("--summary", action="store_true",
                       help="also print the status rollup (4 rows)")

    for name in ("scan", "resolve", "verify"):
        ps = sub.add_parser(name, parents=[common])
        ps.add_argument("--input", required=True)
        ps.add_argument("--registry", required=True)
        if name != "scan":
            ps.add_argument("--pages", default=None,
                            help="e.g. '1,2,5-7' (cli.py:47-86 semantics)")
        if name == "verify":
            ps.add_argument("--axes", default="1,3,5")
            ps.add_argument("--axis-mode", choices=("fanout", "chunk"),
                            default="fanout",
                            help="'chunk': axis values are context chunk "
                                 "sizes (reference axes semantics) so votes "
                                 "can genuinely disagree")

    args = p.parse_args(argv)

    # validate user args BEFORE paying the JVM boot; invalid values exit 2
    # like the reference CLI's arg validation (cli.py:298-381, exit codes
    # asserted in its tests/unit/test_cli.py:55-120)
    try:
        if getattr(args, "pages", None):
            parse_pages_arg(args.pages)
        if getattr(args, "axes", None):
            parse_axes_arg(args.axes)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    pre_existing = SparkSession.getActiveSession()
    spark = get_spark(master=args.master)
    try:
        if args.command == "extract":
            _run_extract(spark, args)
        elif args.command == "describe":
            from .plans.describe import full_description
            full_description(read_documents(spark, args.input)) \
                .write.mode("overwrite").parquet(args.output)
        elif args.command == "diff":
            _run_diff(spark, args)
        else:
            _run_levels(spark, args)
    finally:
        if pre_existing is None:  # don't stop a session we merely joined
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
