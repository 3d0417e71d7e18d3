"""Spark ↔ oracle parity for full section assembly (J2/J3/J5, W1/W5,
F7/F8, X21-X25) — the end-to-end tail of the pipeline."""

from pdf_parser_spark.operators import metadata as M
from pdf_parser_spark.operators import pages as P
from pdf_parser_spark.operators import sections as S
from pdf_parser_spark.operators import toc as T


def test_sections_parity(docs_df, oracle_results):
    flat = P.explode_spans(docs_df)
    valid = P.valid_spans(flat)
    pages = P.pages_df(valid)
    meta = M.metadata_df(docs_df, pages)
    toc = T.toc_entries_df(pages, meta)
    rows = S.sections_df(pages, toc, meta).collect()

    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(r)

    n_sections = 0
    for doc_id, res in oracle_results.items():
        want = [
            (
                s["doc_title"],
                s["section_id"],
                s["title"],
                s["full_path"],
                s["page"],
                s["level"],
                s["parent_id"],
                s["content"],
                tuple(s["tags"]),
            )
            for s in res["sections"]
        ]
        have = sorted(got.get(doc_id, []), key=lambda r: r.order)
        have = [
            (
                r.doc_title,
                r.section_id,
                r.title,
                r.full_path,
                r.page,
                r.level,
                r.parent_id,
                r.content,
                tuple(r.tags),
            )
            for r in have
        ]
        assert have == want, (
            f"sections mismatch for {doc_id} "
            f"(spark={len(have)} oracle={len(want)}):\n"
            f" first diff: "
            f"{next(((a, b) for a, b in zip(have, want) if a != b), None)}"
        )
        n_sections += len(want)
    assert n_sections > 60


def test_pipeline_unpersist_releases_all_internal_caches(spark, docs_df):
    """Every stage barrier materialized inside run_pipeline (pages,
    metadata, toc, sections, and the operators' toc feats/primary,
    page_sections, the W5 pre-order union) must register a release in
    PipelineResult.releases so unpersist() returns the executor storage
    to its prior state — a long-lived cluster job running many pipeline
    slices must not accumulate stage blocks (a local checkpoint's blocks
    survive df.unpersist() and stay until their RDD is unpersisted)."""
    from pdf_parser_spark.pipeline import run_pipeline

    jsc = spark.sparkContext._jsc

    def persistent():
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    def stored():
        return {i.id() for i in jsc.sc().getRDDStorageInfo()}

    before, stored_before = persistent(), stored()
    res = run_pipeline(docs_df, cache=True)
    res.sections.count()
    assert len(res.releases) == 8
    assert stored() - stored_before  # the barriers really hold blocks
    res.unpersist()
    # subset, not equality: the JVM ContextCleaner may asynchronously
    # drop GC'd caches from EARLIER tests between the two snapshots —
    # the property under test is only that nothing run_pipeline created
    # survives its unpersist()
    leaked = persistent() - before
    assert not leaked, f"leaked persistent ids: {sorted(leaked)}"
    leaked = stored() - stored_before
    assert not leaked, f"leaked block ids: {sorted(leaked)}"
