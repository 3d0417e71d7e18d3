"""Output checks.

The digests are gathered with ``observe()`` on the sink writes the pass
already does (one hash per output row, no extra scan); they are compared
after the pass, outside the timed region.

- Per table, the row count and an order-independent digest (the decimal
  sum of xxhash64 over each row's JSON).  Every pass of a run must agree,
  and every run of one corpus in one checkout must agree with the first
  (kept in ``.perfbench_work/digests/``).
- Per sampled doc, the ``spans_out`` rows must equal
  ``oracle.refsem.run_document`` on the same input doc in (seq, page,
  kind, text, media_ref, order), compared as the sum of an md5 of each
  row, which Spark and Python compute alike.  With ``normalize_html`` the
  pipeline rewrites each raw-HTML span into a text span holding its main
  content, which the oracle (no HTML normaliser) quarantines as
  ``unknown_kind``; for those docs the rows at the HTML spans' positions
  are left out and ``order``, which the rewritten spans shift, is not
  compared.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from pyspark.sql import Column, Observation
from pyspark.sql import functions as F

from pdf_parser_spark.oracle import refsem

SPAN_COLS = ("seq", "page", "kind", "text", "media_ref", "order")
SEP, NULL = "\x1f", "\x00"


def _row_md5(cols: tuple[str, ...]) -> Column:
    s = F.concat_ws(SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(NULL))
                           for c in cols])
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(38,0)")


def _py_row_md5(row: dict, cols: tuple[str, ...]) -> int:
    s = SEP.join(NULL if row[c] is None else str(row[c]) for c in cols)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _compared(doc: dict, normalize_html: bool) -> tuple[set, tuple[str, ...]]:
    """(input positions left out, columns compared) for one sampled doc."""
    html = {i for i, s in enumerate(doc["spans"]) if s["kind"] == "html"}
    if normalize_html and html:
        return html, SPAN_COLS[:-1]
    return set(), SPAN_COLS


def observe(tables: dict, docs: dict, ids: list[str], normalize_html: bool,
            tag: str) -> tuple[dict, dict]:
    """Attach the digest observations to each table; returns the observed
    tables and their ``Observation`` objects."""
    observed, obs = {}, {}
    for name, df in tables.items():
        row_hash = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
        exprs = [F.count(F.lit(1)).alias("rows"),
                 F.sum(row_hash.cast("decimal(38,0)")).alias("digest")]
        if name == "spans_out":
            for i, doc_id in enumerate(ids):
                skip, cols = _compared(docs[doc_id], normalize_html)
                keep = F.col("doc_id") == doc_id
                if skip:
                    keep &= ~F.col("seq").isin(sorted(skip))
                exprs.append(F.sum(F.when(keep, _row_md5(cols))).alias(f"doc{i}"))
        obs[name] = Observation(f"{tag}-{name}")
        observed[name] = df.observe(obs[name], *exprs)
    return observed, obs


def results(obs: dict, ids: list[str]) -> tuple[dict, dict]:
    """(table → [rows, digest], sampled doc → spans_out md5 sum)."""
    digests, doc_sums = {}, {}
    for name, o in obs.items():
        got = o.get
        digests[name] = [int(got["rows"]), str(got["digest"] or 0)]
        if name == "spans_out":
            doc_sums = {d: int(got[f"doc{i}"] or 0) for i, d in enumerate(ids)}
    return digests, doc_sums


def oracle_mismatches(doc_sums: dict, docs: dict, normalize_html: bool) -> list[str]:
    bad = []
    for doc_id, got in doc_sums.items():
        doc = docs[doc_id]
        _, cols = _compared(doc, normalize_html)
        want = sum(_py_row_md5(r, cols)
                   for r in refsem.run_document(doc)["spans_out"])
        if got != want:
            bad.append(f"spans_out of {doc_id} differs from the oracle")
    return bad


def digest_mismatches(store: Path, key: str, got: dict) -> list[str]:
    """Compare with the digests stored for ``key`` by an earlier run, or
    store them if this is the first run of that key."""
    path = store / f"{key}.json"
    if not path.exists():
        store.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(got, sort_keys=True))
        return []
    want = json.loads(path.read_text())
    return [
        f"{name}: {got.get(name)} != earlier run {want[name]}"
        for name in sorted(want)
        if got.get(name) != want[name]
    ]
