"""Scale plumbing tests: skew defusal, metrics, checkpoint/resume,
sources/sinks, streaming exactly-once."""

import os

import pytest
from pyspark.sql import functions as F

from edspdf_spark import synth
from edspdf_spark.operators import PipelineConfig, run_fused
from edspdf_spark.plans import (defuse_skew, done_buckets, lineage_row,
                                metrics_from_fused, new_run_id, read_result,
                                run_with_checkpoint)
from edspdf_spark.sources import (from_iterable, from_pandas,
                                  read_pages_parquet, to_iterable, to_pandas,
                                  write_texts_parquet)

CFG = PipelineConfig(masks=[(None, 0.1, 0.9, 0.1, 0.9, "body")], threshold=0.1)


def _flat(df):
    return sorted((r.url, r.label or "", r.text or "")
                  for r in df.select("url", "label", "text").collect())


def test_defuse_skew_preserves_rows(spark):
    pages = synth.pages_spark(spark, 30, num_partitions=2)
    out = defuse_skew(pages, num_partitions=6, oversize_bytes=3000)
    assert out.count() == 30
    assert sorted(r.url for r in out.select("url").collect()) == \
        sorted(r.url for r in pages.select("url").collect())


def test_metrics_rollup(spark):
    pages = synth.pages_spark(spark, 27, num_partitions=3)
    fused = run_fused(pages, CFG)
    run_id = new_run_id()
    m = metrics_from_fused(fused, run_id).toPandas()
    assert m["docs"].sum() == 27
    assert m["error_docs"].sum() == 2  # docs 13, 26
    assert (m["bytes_in"] > 0).all()
    lin = lineage_row(spark, run_id, "synthetic n=27").toPandas()
    assert lin.iloc[0]["run_id"] == run_id


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_checkpoint_resume_after_crash(spark, tmp_path, monkeypatch):
    out_dir = str(tmp_path / "ckpt")
    pages = synth.pages_spark(spark, 30, num_partitions=4).cache()
    pages.count()

    # reference run without checkpointing
    want = _flat(run_fused(pages, CFG))

    # with unpersist disabled, anything cached during the crash+resume
    # cycle is still registered when the cycle ends
    cached_before = _persistent_rdds(spark)
    with monkeypatch.context() as m:
        m.setattr(type(pages), "unpersist", lambda self, blocking=False: self)
        # crash after 2 of 6 buckets
        with pytest.raises(RuntimeError, match="simulated crash"):
            run_with_checkpoint(pages, CFG, out_dir, n_buckets=6,
                                buckets_per_job=2, fail_after_buckets=2)
        assert len(done_buckets(out_dir, 6)) == 2

        # resume completes the rest; result identical to the one-shot run
        run_with_checkpoint(pages, CFG, out_dir, n_buckets=6,
                            buckets_per_job=2)
    assert _persistent_rdds(spark) == cached_before
    assert len(done_buckets(out_dir, 6)) == 6
    got = _flat(read_result(spark, out_dir))
    assert got == want

    # the metrics of both runs cover every doc exactly once
    metrics = spark.read.parquet(os.path.join(out_dir, "metrics", "*"))
    totals = metrics.agg(F.sum("docs"), F.sum("error_docs")).first()
    assert tuple(totals) == (30, 2)  # error docs 13, 26

    # idempotence: running again does nothing and changes nothing
    run_with_checkpoint(pages, CFG, out_dir, n_buckets=6, buckets_per_job=2)
    assert _flat(read_result(spark, out_dir)) == want
    pages.unpersist()


def test_checkpoint_refuses_resume_with_other_bucket_layout(spark,
                                                            tmp_path):
    """A resume under another n_buckets would skip buckets cut under
    the old modulus and rewrite their rows under new bucket numbers."""
    out_dir = str(tmp_path / "ckpt")
    pages = synth.pages_spark(spark, 40, num_partitions=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_with_checkpoint(pages, CFG, out_dir, n_buckets=4,
                            buckets_per_job=1, fail_after_buckets=2)

    def snapshot():
        return {os.path.join(d, f): open(os.path.join(d, f), "rb").read()
                for d, _, files in os.walk(out_dir) for f in files}

    before = snapshot()
    assert any("bucket=" in path for path in before)
    with pytest.raises(ValueError, match="'n_buckets': 4.*'n_buckets': 8"):
        run_with_checkpoint(pages, CFG, out_dir, n_buckets=8,
                            buckets_per_job=1)
    assert snapshot() == before


def test_sources_roundtrip(spark, tmp_path):
    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    for i in range(4):
        (pdf_dir / f"doc_{i}.pdf").write_bytes(synth.make_pdf_bytes(i + 1))
    df = spark.read.format("binaryFile").load(str(pdf_dir))
    assert df.count() == 4

    from edspdf_spark.sources import read_pdf_files
    pages = read_pdf_files(spark, str(pdf_dir))
    assert pages.count() == 4
    assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}
    out = run_fused(pages, CFG)
    assert out.where("label = 'body'").count() == 4

    # iterable + pandas readers
    it_pages = from_iterable(spark, [("u1", synth.make_pdf_bytes(2))])
    assert run_fused(it_pages, CFG).where("label='body'").count() == 1
    pd_pages = from_pandas(spark, synth.pages_pandas(3))
    assert pd_pages.count() == 3

    # writers
    texts = run_fused(pages, CFG)
    tgt = str(tmp_path / "texts")
    write_texts_parquet(texts.drop("properties"), tgt, mode="overwrite")
    back = read_pages_parquet(spark, tgt)  # generic parquet read
    assert back.count() == texts.count()
    assert len(to_pandas(back)) == back.count()
    assert sum(1 for _ in to_iterable(back)) == back.count()


def test_streaming_exactly_once(spark, tmp_path):
    from edspdf_spark.streaming import stream_pages

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    os.makedirs(in_dir)

    # batch 1: docs 0..9
    synth.pages_spark(spark, 10, num_partitions=1).write.mode("append") \
        .parquet(in_dir)
    q = stream_pages(spark, in_dir, out_dir, ck_dir, CFG)
    q.awaitTermination()
    first = spark.read.parquet(out_dir)
    n1 = first.select("url").distinct().count()
    assert n1 == 10

    # batch 2: docs 10..19 arrive later; re-trigger drains ONLY new files
    synth.pages_spark(spark, 20, num_partitions=1) \
        .where(F.col("url") >= "https://example.org/doc/00000010") \
        .write.mode("append").parquet(in_dir)
    q = stream_pages(spark, in_dir, out_dir, ck_dir, CFG)
    q.awaitTermination()
    res = spark.read.parquet(out_dir)
    assert res.select("url").distinct().count() == 20
    # exactly-once: no url appears with duplicate (label) rows
    dup = (res.groupBy("url", "label").count().where("count > 1").count())
    assert dup == 0


def test_stage_checkpoint_resume_after_crash(spark, tmp_path):
    """run_stage_with_checkpoint: same crash->resume->idempotent
    contract as the fused-pipeline runner, for an arbitrary
    bucket-decomposable stage (here: the webtext cleaning funnel)."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from run_webtext import clean_stage

    from edspdf_spark.plans import (done_buckets, read_result,
                                    run_stage_with_checkpoint)

    out_dir = str(tmp_path / "stage_ckpt")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").cache()
    docs.count()
    stage = clean_stage(["dup"], "doc_id", "text",
                        stopwords=["the", "a", "data", "value"])

    want = {r["doc_id"]: (r["keep"], r["n_pii"])
            for r in stage(docs).collect()}

    with pytest.raises(RuntimeError, match="simulated crash"):
        run_stage_with_checkpoint(docs, stage, out_dir,
                                  key_col="doc_id", n_buckets=6,
                                  buckets_per_job=2,
                                  fail_after_buckets=2)
    assert len(done_buckets(out_dir, 6)) == 2

    run_stage_with_checkpoint(docs, stage, out_dir, key_col="doc_id",
                              n_buckets=6, buckets_per_job=2)
    assert len(done_buckets(out_dir, 6)) == 6
    got = {r["doc_id"]: (r["keep"], r["n_pii"])
           for r in read_result(spark, out_dir).collect()}
    assert got == want

    # per-bucket metrics rows exist and add up to the corpus
    import glob as _glob
    import os as _os
    mfiles = _glob.glob(_os.path.join(out_dir, "metrics", "*", "*.parquet"))
    assert mfiles
    total = sum(r["rows_out"] for f in mfiles
                for r in spark.read.parquet(f).collect())
    assert total == len(want)
    docs.unpersist()


def test_clean_stage_repairs_mojibake_before_filtering(spark):
    """The funnel judges REPAIRED text: a doc whose only bad-word hit
    appears post-repair must be dropped, and fix counts surface."""
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    from run_webtext import clean_stage

    base = ("the data value rows " * 20).strip()
    # the blocked word is 'café'; doc 1 carries it ONLY in mojibake
    # form, so the verdict flips iff repair runs before the filter
    docs = spark.createDataFrame(
        [(1, base + " cafÃ©"), (2, base + " cafe")],
        "doc_id long, text string")
    stage = clean_stage(["café"], "doc_id", "text",
                        stopwords=["the", "data", "value"])
    got = {r.doc_id: r for r in stage(docs).collect()}
    # the repetitive filler trips the repetition rule for both docs;
    # the assertions under test are the badword verdict on REPAIRED
    # text and the surfaced fix count
    assert got[1].n_mojibake_fixes == 1 and not got[1].keep_badwords
    assert not got[1].keep
    assert got[2].n_mojibake_fixes == 0 and got[2].keep_badwords


def test_skew_stats_detects_hot_key(spark):
    from edspdf_spark.plans.salt import skew_stats
    rows = [(i, "hot" if i < 900 else f"k{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, key string")
    r = skew_stats(df, "key", n_parts=10).collect()[0]
    assert (r.n_rows, r.n_keys) == (1000, 101)
    assert r.max_key == "hot" and r.max_count == 900
    assert r.top1_share_milli == 900
    assert r.p99_count == 1        # the long tail is singletons
    # fair share = 100 rows/part -> hot key needs 9-way salting
    assert r.salt_factor == 9


def test_skew_stats_uniform_needs_no_salt(spark):
    from edspdf_spark.plans.salt import skew_stats
    df = spark.createDataFrame([(i, f"k{i % 50}") for i in range(1000)],
                               "id long, key string")
    r = skew_stats(df, "key", n_parts=10).collect()[0]
    assert r.salt_factor == 1 and r.max_count == 20


def test_length_quantiles_exact(spark):
    from edspdf_spark.operators.analysis import length_quantiles
    # lengths 1..100 exactly once
    df = spark.createDataFrame([(i, "x" * i) for i in range(1, 101)],
                               "doc_id long, text string")
    r = length_quantiles(df).collect()[0]
    assert (r.n, r.p50, r.p90, r.p99) == (100, 50, 90, 99)


def test_refresh_job_reprocesses_only_delta(spark, tmp_path):
    """run_refresh: unchanged rows carried forward byte-identically,
    added+changed reprocessed, removed tombstoned out."""
    import json
    import sys
    sys.path.insert(0, "/root/repo/jobs")
    import run_refresh
    from run_webtext import clean_stage

    body = ("the data value rows mixed tokens here " * 8).strip()
    prev = spark.createDataFrame(
        [(1, body + " one"), (2, body + " two"), (3, body + " gone")],
        "doc_id long, text string")
    cur = spark.createDataFrame(
        [(1, body + " one"),                 # unchanged
         (2, body + " two CHANGED"),         # changed
         (4, body + " fresh")],              # added
        "doc_id long, text string")
    p_prev = str(tmp_path / "prev")
    p_cur = str(tmp_path / "cur")
    p_prev_out = str(tmp_path / "prev_out")
    out = str(tmp_path / "out")
    prev.write.parquet(p_prev)
    cur.write.parquet(p_cur)
    # previous cleaned output = funnel over prev
    clean_stage([], "doc_id", "text",
                stopwords=["the", "data", "value"])(prev) \
        .write.parquet(p_prev_out)

    run_refresh.main(["--previous", p_prev, "--current", p_cur,
                      "--prev-output", p_prev_out, "--output", out,
                      "--stopwords", "the,data,value"])

    delta = {r.key: r.status
             for r in spark.read.parquet(f"{out}/delta").collect()}
    assert delta == {1: "unchanged", 2: "changed", 3: "removed",
                     4: "added"}
    data = spark.read.parquet(f"{out}/data")
    assert sorted(r.doc_id for r in data.select("doc_id").collect()) \
        == [1, 2, 4]                        # 3 tombstoned
    rep = json.load(open(f"{out}/refresh.json"))
    assert rep["counts"]["unchanged"] == 1
    assert rep["reprocess_fraction"] == 0.5  # 2 of 4 diff keys
    assert rep["rows_out"] == 3


def test_write_sharded_manifest_and_pruning(spark, tmp_path):
    from edspdf_spark.sources.writers import read_sharded, write_sharded
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", f"text {i}") for i in range(90)],
        "doc_id long, source string, text string")
    out = str(tmp_path / "sharded")
    man = write_sharded(df, out, "source")
    assert man["total_rows"] == 90
    assert man["partitions"] == {"d0": 30, "d1": 30, "d2": 30}
    import os
    assert sorted(d for d in os.listdir(out) if d.startswith("source=")) \
        == ["source=d0", "source=d1", "source=d2"]

    back = read_sharded(spark, out)
    assert back.count() == 90
    # partition pruning reaches the scan
    plan = back.where("source = 'd1'")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan and "source" in plan

    # torn export detection
    import json
    m = json.load(open(os.path.join(out, "_manifest.json")))
    m["total_rows"] = 91
    json.dump(m, open(os.path.join(out, "_manifest.json"), "w"))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="torn export"):
        read_sharded(spark, out)


def test_read_pages_table_dispatch(spark, tmp_path):
    """Format-dispatched table read: parquet paths and catalog table
    names resolve to the same rows; auto picks by ref shape; the
    iceberg branch is config-only (jar absent here) and unknown
    formats refuse."""
    import pytest

    from edspdf_spark.sources import read_pages_table

    p = str(tmp_path / "pages.parquet")
    df = spark.createDataFrame([("u1", b"x"), ("u2", b"y")],
                               "url string, html binary")
    df.write.parquet(p)
    by_path = read_pages_table(spark, p)                 # auto -> parquet
    assert by_path.count() == 2
    spark.read.parquet(p).createOrReplaceTempView("pages_v")
    by_table = read_pages_table(spark, "pages_v")        # auto -> catalog
    assert sorted(r.url for r in by_table.collect()) == ["u1", "u2"]
    assert read_pages_table(spark, p, fmt="parquet").count() == 2
    with pytest.raises(ValueError, match="unknown table format"):
        read_pages_table(spark, p, fmt="orc")


def test_driver_table_caps_rows_and_arrow_bytes(spark):
    """driver_table returns the whole input or None, sized by an
    in-plan aggregate: 8 bytes per bigint value, a 4-byte offset plus
    the payload per other value. It releases its own persist and
    keeps whatever cache the caller set up."""
    from pyspark import StorageLevel

    from edspdf_spark.plans.gate import driver_table

    ids = spark.range(5)  # one bigint column: 8 bytes a row
    assert driver_table(ids, 5, 40).column("id").to_pylist() == \
        [0, 1, 2, 3, 4]
    assert driver_table(ids, 4, 1 << 20) is None
    assert driver_table(ids, None, 39) is None
    assert ids.storageLevel == StorageLevel.NONE

    words = spark.createDataFrame([("abc",), ("de",), (None,)], "w string")
    assert driver_table(words, 3, 17).num_rows == 3   # 3 x 4 + 5 bytes
    assert driver_table(words, None, 16) is None
    assert driver_table(words, 2, 1 << 20) is None
    assert words.storageLevel == StorageLevel.NONE    # its own persist
    words.persist()
    try:
        assert driver_table(words, None, 16) is None
        assert words.storageLevel != StorageLevel.NONE
    finally:
        words.unpersist()


def test_doc_map_keeps_id_type_passes_nulls_and_skips_empty_batches(
        spark, monkeypatch):
    """doc_map: the output id keeps the input's type, NULL text reaches
    fn, a batch for which fn returns no rows emits no batch, and the
    plan is one MapInArrow behind at most one spread Exchange."""
    import pyarrow as pa

    from edspdf_spark.plans.salt import doc_map

    def fn(ids, texts):
        kept = [(i, t is None) for i, t in zip(ids, texts) if t != "drop"]
        return [i for i, _ in kept], [null for _, null in kept]

    kernels = []
    for id_type, ids in (("bigint", [1, 2, 3]), ("string", ["a", "b", "c"])):
        df = spark.createDataFrame(list(zip(ids, ["x", None, "drop"])),
                                   f"doc_id {id_type}, text string")
        real = type(df).mapInArrow

        def capture(self, func, schema, *a, **k):
            kernels.append(func)
            return real(self, func, schema, *a, **k)

        monkeypatch.setattr(type(df), "mapInArrow", capture)
        out = doc_map(df, "doc_id", "text", fn, "is_null boolean")
        monkeypatch.undo()
        assert out.dtypes == [("id", id_type), ("is_null", "boolean")]
        assert sorted(map(tuple, out.collect())) == [(ids[0], False),
                                                     (ids[1], True)]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, plan
        assert plan.count("Exchange") <= 1, plan
        assert "EvalPython" not in plan

    batches = [pa.RecordBatch.from_pydict(
                   {"id": pa.array([7], pa.int32()), "text": ["drop"]}),
               pa.RecordBatch.from_pydict(
                   {"id": pa.array([8, 9], pa.int32()),
                    "text": [None, "y"]})]
    emitted = list(kernels[0](iter(batches)))
    assert len(emitted) == 1
    assert emitted[0].schema.field("id").type == pa.int32()
    assert emitted[0].to_pydict() == {"id": [8, 9],
                                      "is_null": [True, False]}


def test_group_map_hands_fn_whole_sorted_groups(spark, monkeypatch):
    """group_map at 3 rows per Arrow batch: every fn call sees whole key
    groups sorted by (key, order), each key reaches exactly one call,
    rows in == rows out, empty input emits no batch, and the plan is one
    Exchange plus one MapInPandas."""
    import random

    import pandas as pd

    from edspdf_spark.plans.salt import group_map

    sizes = {2 ** 40 + 1: 1, -5: 2, 0: 3, 7: 7, 2 ** 33: 20}
    rows = [(k, o, f"{k}:{o}") for k, n in sizes.items()
            for o in random.Random(k).sample(range(100), n)]
    random.Random(0).shuffle(rows)
    df = spark.createDataFrame(rows, "k bigint, o int, v string")

    def fn(pdf):  # tags each call's rows with a call id and position
        call = int.from_bytes(os.urandom(7), "big")
        return pdf.assign(call=call, pos=range(len(pdf)))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        out = group_map(df, "k", ["o"], fn,
                        "k bigint, o int, v string, call bigint, pos int")
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = out.toPandas()
    finally:
        spark.conf.set(key, prev)

    assert plan.count("Exchange") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "EvalPython" not in plan
    assert sorted(map(tuple, got[["k", "o", "v"]].values.tolist())) == \
        sorted(rows)
    assert got.groupby("k")["call"].nunique().eq(1).all()
    assert got["call"].nunique() < len(rows)  # some calls hold >1 row
    for _, call in got.groupby("call"):
        call = call.sort_values("pos")
        keys = list(zip(call["k"], call["o"]))
        assert keys == sorted(keys)
        assert call.groupby("k").size().to_dict() == \
            {k: sizes[k] for k in set(call["k"])}

    # the carry itself, in-process: a group cut by batch boundaries
    # reaches fn once, whole; empty batches and empty input emit nothing
    calls, kernels = [], []
    real = type(df).mapInPandas

    def capture(self, func, schema, *a, **k):
        kernels.append(func)
        return real(self, func, schema, *a, **k)

    def spy(pdf):
        calls.append(pdf["k"].tolist())
        return pdf

    def frames(*ks):
        return [pd.DataFrame({"k": list(b), "o": range(len(b))}) for b in ks]

    monkeypatch.setattr(type(df), "mapInPandas", capture)
    group_map(df, "k", ["o"], spy, "k bigint, o int")
    monkeypatch.undo()
    kernel = kernels[0]
    emitted = list(kernel(iter(frames([1, 1, 2], [2, 2, 2], [], [2, 3],
                                      [4, 4], [4], [5]))))
    assert calls == [[1, 1], [2, 2, 2, 2, 2], [3], [4, 4, 4], [5]]
    assert [len(e) for e in emitted] == [2, 5, 1, 3, 1]
    assert list(kernel(iter([]))) == []
    assert list(kernel(iter(frames([])))) == []


def test_batch_carry_has_one_owner():
    """The carry of a group across Arrow batches is written once, in
    plans/salt.py::group_map: group-local kernels own only their
    per-group math."""
    import pathlib

    import edspdf_spark

    pkg = pathlib.Path(edspdf_spark.__file__).parent
    files = [*pkg.rglob("*.py"), pkg.parent / "__spark_entry__.py"]
    owners = sorted(str(p.relative_to(pkg.parent)) for p in files
                    if "pd.concat([tail" in p.read_text("utf-8"))
    assert set(owners) <= {"edspdf_spark/plans/salt.py"}, owners
