"""Workloads: a corpus built from the seed with the ``fixtures.gen``
family builders, written as parquet, and the pass that runs the shipped
entry points over it.  Why each workload exists:

- ``batch_e2e`` is the north-star number: ``run_pipeline(normalize_html=
  True)`` over a mixed corpus of all 13 bench families (1/13 raw HTML),
  every one of the 7 output tables forced through Spark's ``noop`` sink.
- ``mega_skew`` stresses the W2 reassembly that ``batch_e2e`` never takes:
  normal docs plus one doc above ``mega_doc_span_threshold`` spans, so
  ``span_sequence_skew_df`` routes it to the salted two-phase path.  It
  makes the calls ``run_pipeline`` makes for W2 (explode, validate,
  ``span_sequence_skew_df`` with ``docs=``) and forces ``spans_out``.

A pass costs tens of seconds here, nearly all of it per-run work that
does not shrink with the corpus (a cold JVM, and driver-side planning
of a very large plan), so each run times one cold pass: what a one-shot
batch job pays.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.config import DEFAULT_CONFIG
from pdf_parser_spark.fixtures import gen

N_FAMILIES = len(gen._BENCH_BUILDERS)
N_FILES = 4  # input parquet files, one doc_id range each

SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS = pa.schema(
    [pa.field("doc_id", pa.string(), nullable=False), ("spans", pa.list_(SPAN))]
)


def build_corpus(seed: int, n_docs: int, n_mega: int = 0,
                 mega_spans: int = 0) -> list[dict]:
    """``n_docs`` docs cycling the 13 bench families, then ``n_mega`` mega
    docs of about ``mega_spans`` spans; every doc has its own rng drawn
    from ``seed``, so one seed always gives the same corpus."""
    docs = []
    for i in range(n_docs):
        fam = i % N_FAMILIES
        rng = random.Random(seed * 1_000_003 + i)
        doc_id = f"doc-s{seed}-{i:07d}-f{fam:02d}"
        docs.append(gen._doc_to_spans(gen._BENCH_BUILDERS[fam](rng, doc_id), rng))
    for k in range(n_mega):
        rng = random.Random(seed * 1_000_003 + n_docs + k)
        doc_id = f"doc-s{seed}-mega-{k}"
        docs.append(gen._doc_to_spans(gen.mega_doc(rng, doc_id, mega_spans), rng))
    return docs


def write_corpus(docs: list[dict], path: Path) -> None:
    """Parquet in doc_id-range layout (as ``fixtures.gen.write_parquet``
    lays it out), written by pyarrow so the corpus never crosses the Py4J
    gateway."""
    path.mkdir(parents=True, exist_ok=True)
    ordered = sorted(docs, key=lambda d: d["doc_id"])
    step = -(-len(ordered) // N_FILES)
    for i in range(0, len(ordered), step):
        chunk = ordered[i:i + step]
        table = pa.Table.from_pylist(
            [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in chunk],
            schema=DOCS,
        )
        pq.write_table(table, path / f"part-{i // step:05d}.parquet")


def sample_ids(docs: list[dict]) -> list[str]:
    """The docs checked against the oracle: the first 2 docs of every
    family, and every mega doc."""
    seen: dict[str, int] = {}
    out = []
    for d in docs:
        fam = d["doc_id"].rsplit("-", 1)[1]
        if fam.startswith("f") and seen.get(fam, 0) >= 2:
            continue
        seen[fam] = seen.get(fam, 0) + 1
        out.append(d["doc_id"])
    return out


def batch_pass(docs_df) -> tuple[dict, Callable[[], None]]:
    from pdf_parser_spark import pipeline

    result = pipeline.run_pipeline(docs_df, normalize_html=True)
    tables = {name: getattr(result, name) for name in pipeline_tables()}
    return tables, result.unpersist


def mega_pass(docs_df) -> tuple[dict, Callable[[], None]]:
    from pdf_parser_spark.operators import pages

    cfg = DEFAULT_CONFIG
    valid = pages.valid_spans(pages.explode_spans(docs_df, cfg))
    return {"spans_out": pages.span_sequence_skew_df(valid, cfg, docs=docs_df)}, \
        lambda: None


def pipeline_tables() -> tuple[str, ...]:
    return ("quarantine", "spans_out", "pages", "metadata", "toc",
            "sections", "metrics")


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    run_pass: Callable
    normalize_html: bool
    n_mega: int = 0
    mega_spans: int = 0

    def corpus(self, seed: int) -> list[dict]:
        return build_corpus(seed, self.n_docs, self.n_mega, self.mega_spans)

    def key(self, seed: int) -> str:
        """Names one corpus: same key, same input, same outputs."""
        return (f"{self.name}-s{seed}-{self.n_docs}d-"
                f"{self.n_mega}x{self.mega_spans}")

    @property
    def total_docs(self) -> int:
        return self.n_docs + self.n_mega


WORKLOADS = {
    "batch_e2e": Workload(
        "batch_e2e", n_docs=195, run_pass=batch_pass,
        normalize_html=True,
    ),
    # 101,000 blocks + page breaks > mega_doc_span_threshold (100,000)
    "mega_skew": Workload(
        "mega_skew", n_docs=26, run_pass=mega_pass,
        normalize_html=False, n_mega=1, mega_spans=101_000,
    ),
}
