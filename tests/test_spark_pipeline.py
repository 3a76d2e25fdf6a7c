"""Spark-layer tests: staged operators, fused pipeline, and the
staged-vs-fused equivalence (the engine's internal differential)."""

import pytest

from edspdf_spark import synth
from edspdf_spark.operators import (PipelineConfig, aggregate, blocs,
                                    doc_summaries, dummy_classify, extract,
                                    mask_classify, masks_df, process_doc,
                                    run_fused)

N_DOCS = 40

MASKS = [("body", "body", 0.1, 0.1, 0.9, 0.9, None)]
KERNEL_MASKS = [(None, 0.1, 0.9, 0.1, 0.9, "body")]


@pytest.fixture(scope="module")
def pages(spark):
    df = synth.pages_spark(spark, N_DOCS, num_partitions=4).cache()
    df.count()
    return df


def test_pages_schema_and_counts(pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == N_DOCS


def test_extract_blocs_and_docs(pages):
    ex = extract(pages).cache()
    docs = doc_summaries(ex).toPandas().set_index("url")
    assert len(docs) == N_DOCS
    # corrupt docs: multiples of 13 (>0)
    errors = {u for u, r in docs.iterrows() if r.error}
    expected = {f"https://example.org/doc/{i:08d}.pdf"
                for i in range(N_DOCS) if i % 13 == 0 and i > 0}
    assert errors == expected
    b = blocs(ex).toPandas()
    assert (b.groupby("url").size() > 0).all()
    assert b["x0"].between(0, 1).all() and b["y1"].between(0, 1).all()
    ex.unpersist()


def test_mask_classify_native_matches_kernel(spark, pages):
    """Spark-native column math must agree with the numpy kernel on
    every bloc (same float64 ops in the same order)."""
    from edspdf_spark.kernels.alignment import classify_with_masks
    from edspdf_spark.kernels.extract import extract_doc

    ex = blocs(extract(pages))
    m = masks_df(spark, MASKS)
    got = (mask_classify(ex, m, threshold=0.1)
           .select("url", "page_num", "order_idx", "label").toPandas())
    got_map = {(r.url, r.page_num, r.order_idx): r.label
               for r in got.itertuples()}

    checked = 0
    for i in range(N_DOCS):
        res = extract_doc(synth.make_pdf_bytes(i))
        if res["error"]:
            continue
        url = f"https://example.org/doc/{i:08d}.pdf"
        keys = [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"])
                for b in res["blocs"]]
        want = classify_with_masks(KERNEL_MASKS, keys, threshold=0.1)
        for idx, (b, lab) in enumerate(zip(res["blocs"], want)):
            assert got_map[(url, b["page_num"], idx)] == lab
            checked += 1
    assert checked > 100


def test_fused_pipeline_end_to_end(pages):
    cfg = PipelineConfig(masks=KERNEL_MASKS, threshold=0.1)
    out = run_fused(pages, cfg).toPandas()
    urls = set(out["url"])
    assert len(urls) == N_DOCS
    err = out[out["error"]]
    assert set(err["url"]) == {f"https://example.org/doc/{i:08d}.pdf"
                               for i in range(N_DOCS) if i % 13 == 0 and i > 0}
    body = out[out["label"] == "body"]
    assert (body["text"].str.len() > 0).all()
    assert (body["n_blocs"] > 0).all()
    assert (body["bytes_in"] > 0).all()


def test_staged_equals_fused(spark, pages):
    """extract->classify->aggregate as separate DataFrame stages must
    produce byte-identical text to the fused single-pass path."""
    cfg = PipelineConfig(masks=KERNEL_MASKS, threshold=0.1)
    fused = run_fused(pages, cfg).select("url", "label", "text").toPandas()

    from pyspark.sql import functions as F

    ex = extract(pages)
    lb = mask_classify(blocs(ex), masks_df(spark, MASKS), threshold=0.1)
    # aggregate() consumes bloc rows + doc markers: union markers back
    markers = ex.where("page_num = -1").withColumn(
        "label", F.lit(None).cast("string"))
    staged = (aggregate(lb.unionByName(markers.select(*lb.columns)))
              .select("url", "label", "text").toPandas())

    f = {(r.url, r.label): r.text for r in fused.itertuples()
         if r.label is not None}
    s = {(r.url, r.label): r.text for r in staged.itertuples()
         if r.label is not None}
    assert f == s
    assert len(f) > 0


def test_parallelism_invariance(spark):
    """Identical results regardless of partitioning (local[1]-style
    single partition vs many): the north rule's determinism premise."""
    cfg = PipelineConfig(masks=KERNEL_MASKS, threshold=0.1)
    p1 = synth.pages_spark(spark, 20, num_partitions=1)
    p8 = synth.pages_spark(spark, 20, num_partitions=8)
    a = run_fused(p1, cfg).select("url", "label", "text").toPandas()
    b = run_fused(p8, cfg).select("url", "label", "text").toPandas()
    ka = sorted(map(tuple, a.fillna("").values.tolist()))
    kb = sorted(map(tuple, b.fillna("").values.tolist()))
    assert ka == kb


def test_dummy_classifier(pages):
    ex = blocs(extract(pages.limit(5)))
    out = dummy_classify(ex, "body").select("label").distinct().collect()
    assert [r.label for r in out] == ["body"]


def test_process_doc_markdown():
    cfg = PipelineConfig(masks=KERNEL_MASKS, threshold=0.1,
                         extract_style=True, markdown=True)
    rows = process_doc("u", synth.make_pdf_bytes(7), cfg)
    body = [r for r in rows if r[1] == "body"]
    assert body and ("**" in body[0][2] or "_" in body[0][2])


def test_process_doc_maps_pdf_branch_exception_to_error_row(monkeypatch):
    """A kernel exception the PDF branch did not anticipate becomes the
    error row instead of failing the task; HTML docs never enter it."""
    from edspdf_spark.operators import fused

    def boom(*a, **k):
        raise IndexError("unexpected")

    monkeypatch.setattr(fused, "extract_doc", boom)
    cfg = PipelineConfig(masks=KERNEL_MASKS, threshold=0.1)
    pdf = synth.make_pdf_bytes(7)
    assert process_doc("u", pdf, cfg) == [
        ("u", None, None, [], True, 0, 0, len(pdf), -1)]
    html = (b"<html><body><p>" + b"plain words here " * 20
            + b"</p></body></html>")
    rows = process_doc("h", html, cfg)
    assert len(rows) == 1 and rows[0][1] == "body" and not rows[0][4]
