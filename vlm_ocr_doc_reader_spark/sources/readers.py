"""Sources & sinks (SURVEY §2.1).

The reference's storage layer is a key-value workspace with PNG/JSON/YAML
typed keys (core/state.py:354-426); the engine's equivalents:

  * S1  PDF scan -> pages      => the input IS the span table already
                                  (input_hint); for raw binary landed files
                                  see ``read_binary_docs`` (binaryFile source)
  * S5/S6 state/registry sinks => parquet/Iceberg tables (manifest.py)
  * S9  state source           => ``read_documents`` with enforced schema
  * S11 content-hash identity  => sha2 over the serialized spans
  * S12 memory backend         => temp views (tests)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

SPAN_STRUCT = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])
DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType(), nullable=False),
    StructField("spans", ArrayType(SPAN_STRUCT)),
])


def ensure_min_partitions(df: DataFrame, n: int | None = None) -> DataFrame:
    """Guarantee at least ``n`` (default: the cluster's default parallelism)
    physical partitions for a compute-dense narrow pipeline.

    Why: a small parquet file with one row group plans as ONE input split,
    so every narrow stage downstream (regex classify, MinHash signatures,
    language ID) runs single-threaded no matter how many cores the cluster
    has — ``maxPartitionBytes`` / ``minPartitionNum`` can't split below the
    row-group, so an explicit round-robin repartition is the only lever.
    Measured: the sf0.1 curation first run dropped from 133s to seconds
    once its signature scan stopped running on one core.

    At 100 TB this is a NO-OP: the partition-count peek (metadata only,
    plans the scan but runs no job) sees thousands of input splits and
    returns the frame untouched — the repartition shuffle only ever happens
    on inputs small enough for it to be trivial."""
    spark = df.sparkSession
    n = n or spark.sparkContext.defaultParallelism
    # .rdd.getNumPartitions() is a plan-metadata peek (no job, nothing is
    # computed); public API so it survives Spark Connect / JVM-internal
    # changes.  If the peek isn't available at all, repartition
    # unconditionally — correct either way, just skips the no-op shortcut.
    try:
        if df.rdd.getNumPartitions() >= n:
            return df
    except Exception:
        pass
    if df.isStreaming:
        return df.repartition(n)
    # Registered lazy persist = a pushdown barrier, not just a
    # repartition: the optimizer pushes filters on DERIVED columns (e.g.
    # the quality score's whole regex formula) below a bare round-robin
    # exchange, which re-serializes the compute-dense chain onto the
    # single input split this function exists to escape AND duplicates
    # it (filter below + projection above — guide §4.4's
    # pushdown-duplication in Catalyst form; measured as two 1-task
    # ~3.5 CPU-s stages per cold curation run at sf0.1).  The cache
    # substitution happens BEFORE optimization, so downstream filters
    # stay above the lifted partitions.  persist (vs localCheckpoint,
    # the first cut): the cached plan stays plan-matchable, so an
    # immediate re-run of the same pipeline reuses it (localCheckpoint
    # mints a fresh RDD leaf per call and broke curation's warm-path
    # cache matching, 3.4 -> 6.6 s warm).  Registered in the package
    # cache registry so release_all_cached()/bench passes free it.
    # Only ever reached on inputs small enough to repartition trivially
    # (the >= n peek above returns big inputs untouched); lazy — it
    # materializes inside whatever action runs first.
    from pyspark import StorageLevel
    out = df.repartition(n).persist(StorageLevel.MEMORY_AND_DISK)
    from ..datapipe.cache import attach_cached_deps
    return attach_cached_deps(out, out)


def read_documents(spark: SparkSession, path: str,
                   enforce: bool = True) -> DataFrame:
    """Read the judged input table with the schema pinned (never inferred —
    the reference re-validates at every deserialization boundary because its
    producer is an LLM, state.py:152-217; we enforce once at the source)."""
    df = spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
    if enforce:
        df = df.filter(F.col("doc_id").isNotNull())
    return df


def with_content_hash(df: DataFrame) -> DataFrame:
    """S11/F10/T5: doc version identity = sha256 of the serialized spans;
    a changed document gets a new identity, so the manifest treats it as new
    work (decision_001:149-156)."""
    return df.withColumn(
        "content_hash", F.sha2(F.to_json(F.struct("doc_id", "spans")), 256))


def read_documents_json(spark: SparkSession, path: str,
                        enforce: bool = True) -> DataFrame:
    """JSON-lines variant of the judged input table — same pinned schema
    (never inferred), same null-id enforcement.  For corpora landed as
    JSONL exports rather than parquet; downstream plans are identical."""
    df = spark.read.schema(DOCUMENTS_SCHEMA).json(path)
    if enforce:
        df = df.filter(F.col("doc_id").isNotNull())
    return df


def read_documents_orc(spark: SparkSession, path: str,
                       enforce: bool = True) -> DataFrame:
    """ORC variant of the judged input table (columnar alternative with the
    same pushdown/pruning properties as parquet)."""
    df = spark.read.schema(DOCUMENTS_SCHEMA).orc(path)
    if enforce:
        df = df.filter(F.col("doc_id").isNotNull())
    return df


def read_binary_docs(spark: SparkSession, path: str,
                     glob: str = "*.pdf") -> DataFrame:
    """S1 landing zone: raw files as (path, modificationTime, length,
    content).  Upstream block parsing (PDF -> spans) needs a PDF library not
    present in this container — consume the span table instead; this source
    exists so a cluster with the parser wired can land raw files.  When
    PyMuPDF exists, ``pdf_to_spans`` converts this frame to the judged span
    table."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", glob)
            .load(path))


def has_pdf_parser() -> bool:
    """True when PyMuPDF (fitz) is importable — gates ``pdf_to_spans``."""
    try:
        import fitz  # noqa: F401
        return True
    except ImportError:
        return False


def pdf_to_spans(binary_docs: DataFrame,
                 batch_size: int = 8) -> DataFrame:
    """PDF landing frame -> judged span table (doc_id, spans).

    Mirrors reference preprocessing/renderer.py:35-96 (fitz page walk): each
    text block becomes a ('text', block_text, NULL, offset) span and each
    image xref a ('image', NULL, 'img_<page>_<i>', offset) span, offsets in
    page-then-block order.  Arrow-batched ``mapInPandas`` — per-file work is
    CPU-bound parsing, so the stage scales with partitions and never
    shuffles.  Raises ImportError up front when PyMuPDF is absent (this
    container): the plumbing is real, the kernel needs the library."""
    if not has_pdf_parser():
        raise ImportError(
            "pdf_to_spans requires PyMuPDF (fitz); this environment has no "
            "PDF library — consume the span table directly instead")
    def parse(batches):
        import fitz
        import pandas as pd
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                spans, off = [], 0
                doc = fitz.open(stream=bytes(row["content"]),
                                filetype="pdf")
                for pno, page in enumerate(doc):
                    for block in page.get_text("blocks"):
                        text = (block[4] or "").strip()
                        if text:
                            spans.append(("text", text, None, off))
                            off += 1
                    for i, img in enumerate(page.get_images()):
                        spans.append(("image", None, f"img_{pno}_{i}", off))
                        off += 1
                out.append((row["path"], spans))
            yield pd.DataFrame(out, columns=["doc_id", "spans"])

    return binary_docs.select("path", "content").mapInPandas(
        parse, schema=DOCUMENTS_SCHEMA)


def register_memory_views(spark: SparkSession, frames: dict) -> None:
    """S12 memory backend analog: name -> DataFrame temp views for tests."""
    for name, df in frames.items():
        df.createOrReplaceTempView(name)


def html_to_spans(html_docs: DataFrame, id_col: str = "doc_id",
                  html_col: str = "html") -> DataFrame:
    """HTML landing frame -> judged span table (doc_id, spans): the
    north-rule "HTML boilerplate strip" front door.  Block-level elements
    become spans in document order:

      h1..h6            -> ('heading', text, NULL, off)
      p/li/td/div-text  -> ('text', text, NULL, off)
      a (block of its own or link-only block) -> ('link', text, NULL, off)
      img               -> ('image', NULL, src, off)
      script/style/nav/header/footer/aside contents -> ('boilerplate', ...)

    so the EXISTING classifier/XY-cut/reconcile pipeline consumes web
    pages unchanged (the span table is the engine's common currency; the
    boilerplate kind is exactly what P-classify drops).

    Implementation: Python stdlib ``html.parser`` inside Arrow-batched
    ``mapInPandas`` — no external dependency, CPU-bound per-row parsing,
    zero shuffle; malformed HTML never raises (the parser is tolerant by
    design, and a totally unparseable payload yields an empty span list,
    the P5 quarantine shape).  Deterministic: output depends only on the
    input bytes."""
    def parse(batches):
        import pandas as pd
        from html.parser import HTMLParser

        BLOCK = {"p", "li", "td", "th", "h1", "h2", "h3", "h4", "h5", "h6",
                 "div", "article", "section", "blockquote", "pre", "title"}
        BOILER = {"script", "style", "nav", "header", "footer", "aside"}
        HEADING = {"h1", "h2", "h3", "h4", "h5", "h6"}

        class Extract(HTMLParser):
            def __init__(self):
                super().__init__(convert_charrefs=True)
                self.spans = []
                self.off = 0
                self.stack = []       # open block-ish tags
                self.boiler_depth = 0
                self.buf = []         # text of the current block
                self.buf_kind = "text"
                self.buf_links = 0    # <a> openings inside current block
                self.in_a = 0

            def _flush(self):
                text = " ".join("".join(self.buf).split())
                self.buf = []
                links = self.buf_links
                self.buf_links = 0
                if not text:
                    return
                if self.boiler_depth > 0:
                    kind = "boilerplate"
                elif self.buf_kind == "heading":
                    kind = "heading"
                elif links > 0 and len(text.split()) <= 3 * links:
                    kind = "link"     # link-dominated block
                else:
                    kind = "text"
                self.spans.append((kind, text, None, self.off))
                self.off += 1

            def handle_starttag(self, tag, attrs):
                if tag in BOILER:
                    self._flush()
                    self.boiler_depth += 1
                    return
                if tag == "a":
                    self.in_a += 1
                    self.buf_links += 1
                    return
                if tag == "img":
                    self._flush()
                    src = dict(attrs).get("src") or "img"
                    # an image inside a boilerplate container (nav logo,
                    # footer tracking pixel) is boilerplate like the text
                    # around it — density_classify keeps image spans
                    # unconditionally, so emitting kind='image' here would
                    # leak it past the strip (r5 advice finding)
                    kind = "boilerplate" if self.boiler_depth > 0 \
                        else "image"
                    self.spans.append((kind, None, src, self.off))
                    self.off += 1
                    return
                if tag == "br":
                    self.buf.append(" ")
                    return
                if tag in BLOCK:
                    self._flush()
                    self.buf_kind = ("heading"
                                     if tag in HEADING or tag == "title"
                                     else "text")

            def handle_endtag(self, tag):
                if tag in BOILER:
                    self._flush()
                    self.boiler_depth = max(0, self.boiler_depth - 1)
                    return
                if tag == "a":
                    self.in_a = max(0, self.in_a - 1)
                    return
                if tag in BLOCK:
                    self._flush()
                    self.buf_kind = "text"

            def handle_data(self, data):
                if data:
                    self.buf.append(data)

        def doc_spans(html):
            try:
                p = Extract()
                p.feed(html or "")
                p.close()
                p._flush()
                return p.spans
            except Exception:
                return []   # quarantine shape: unparseable -> empty

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype(str),
                "spans": [doc_spans(h) for h in pdf[html_col]],
            })

    return html_docs.mapInPandas(parse, schema=DOCUMENTS_SCHEMA)
