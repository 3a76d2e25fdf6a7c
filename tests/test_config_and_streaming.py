"""Config loader + streaming windowed aggregation + random classifier."""

import os

import pytest

from edspdf_spark import synth
from edspdf_spark.operators import run_fused
from edspdf_spark.plans.config import ConfigError, load_config

README_STYLE_CONFIG = """
[pipeline]
pipeline = ["extractor", "classifier", "aggregator"]

[components.extractor]
factory = "pdfminer-extractor"
extract_style = true

[components.classifier]
factory = "mask-classifier"
x0 = 0.1
y0 = 0.1
x1 = 0.9
y1 = 0.9
threshold = 0.1

[components.aggregator]
factory = "markdown-aggregator"
"""


def test_load_config_readme_example():
    cfg = load_config(README_STYLE_CONFIG)
    assert cfg.extract_style and cfg.markdown
    assert cfg.threshold == 0.1
    assert cfg.masks == [(None, 0.1, 0.9, 0.1, 0.9, "body")]


def test_load_config_multi_mask_and_label_map():
    cfg = load_config({
        "pipeline": {"pipeline": ["cls", "agg"]},
        "components": {
            "cls": {"factory": "multi-mask-classifier", "threshold": 0.4,
                    "head": {"x0": 0, "y0": 0, "x1": 1, "y1": 0.2,
                             "label": "header"},
                    "rest": {"x0": 0, "y0": 0.2, "x1": 1, "y1": 1,
                             "label": "body"}},
            "agg": {"factory": "simple-aggregator",
                    "label_map": {"text": ["body"]}},
        },
    })
    assert len(cfg.masks) == 2
    assert cfg.masks[0][5] == "header"
    assert cfg.label_map == {"text": ["body"]}


def test_load_config_errors():
    with pytest.raises(ConfigError, match="unknown factory"):
        load_config({"pipeline": {"pipeline": ["x"]},
                     "components": {"x": {"factory": "nope"}}})
    with pytest.raises(ConfigError, match="missing"):
        load_config({"pipeline": {"pipeline": ["x"]}, "components": {}})
    with pytest.raises(ConfigError, match="unrecognized options"):
        load_config({"pipeline": {"pipeline": ["a"]},
                     "components": {"a": {"factory": "simple-aggregator",
                                          "typo_option": 1}}})


def test_config_to_end_to_end_run(spark, tmp_path):
    path = tmp_path / "pipe.toml"
    path.write_text(README_STYLE_CONFIG)
    cfg = load_config(str(path))
    out = run_fused(synth.pages_spark(spark, 8, num_partitions=2), cfg)
    body = out.where("label = 'body'").toPandas()
    assert len(body) == 8 - 0  # no corrupt docs in 0..7
    assert body["text"].str.contains(r"\*\*").any()  # markdown bold present


def test_streaming_windowed_watermark(spark, tmp_path):
    from edspdf_spark.streaming.windowed import (stream_event_counts,
                                                 windowed_event_counts)

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    events.write.mode("append").parquet(in_dir)

    q = stream_event_counts(spark, in_dir, out_dir, ck, events.schema,
                            window="1 hour", watermark="2 hours")
    q.awaitTermination()
    got = spark.read.parquet(out_dir)

    # batch form over the same data = ground truth; the stream may
    # withhold the most recent (non-finalized) windows under the
    # watermark, so streamed output must be a SUBSET equal on shared keys
    want = windowed_event_counts(events).toPandas()
    got_pd = got.toPandas()
    wmap = {(r.window_start, r.event_type): (r.n_events, r.sum_value_milli)
            for r in want.itertuples()}
    assert len(got_pd) > 0
    for r in got_pd.itertuples():
        assert wmap[(r.window_start, r.event_type)] == \
            (r.n_events, r.sum_value_milli)


def test_random_classifier_reference_seeding(spark):
    """Per-doc numpy RNG stream, reference seeding (random.py:37-47):
    same seed => same labels, independent of partitioning."""
    import numpy as np

    from edspdf_spark.operators import blocs, extract, random_classify

    pages = synth.pages_spark(spark, 6, num_partitions=3)
    bl = blocs(extract(pages))
    a = random_classify(bl, {"a": 0.3, "b": 0.7}, seed=5).toPandas()
    b = random_classify(bl.repartition(1), {"a": 0.3, "b": 0.7},
                        seed=5).toPandas()
    key = ["url", "page_num", "order_idx"]
    m = a.merge(b, on=key, suffixes=("_1", "_2"))
    assert len(m) == len(a) and (m["label_1"] == m["label_2"]).all()

    # per-doc stream: seeded by (seed, whole-url key), reference draw
    def doc_key(url):
        return int.from_bytes(b"\1" + str(url).encode("utf-8"), "big")

    for url, doc in a.groupby("url"):
        doc = doc.sort_values(["page_num", "order_idx"])
        rng = np.random.default_rng(seed=[5, doc_key(url)])
        want = rng.choice(["a", "b"], p=[0.3, 0.7], size=len(doc))
        assert list(doc["label"]) == list(want), url
    # different docs get different streams
    heads = {tuple(np.random.default_rng([5, doc_key(u)]).random(8))
             for u in set(a.url)}
    assert len(heads) == a.url.nunique() > 1

    # urls that share their last 8 bytes still get different streams
    urls = ["https://a.example/x/index.pdf", "https://b.example/x/index.pdf"]
    same_tail = spark.createDataFrame(
        [(u, 0, i, None) for u in urls for i in range(32)],
        "url string, page_num int, order_idx int, label string")
    got = random_classify(same_tail, ["a", "b"], seed=5).toPandas()
    streams = [list(got[got.url == u].sort_values("order_idx")["label"])
               for u in urls]
    assert len(streams[0]) == 32 and streams[0] != streams[1]


def test_streaming_late_and_too_late_events(spark, tmp_path):
    """Watermark semantics pinned: a late event inside the watermark
    is counted when its window finalizes; an event behind the
    watermark for an already-emitted window is dropped, and the
    emitted count never changes (append mode = immutable results)."""
    import datetime as dt

    from edspdf_spark.streaming.windowed import stream_event_counts

    def ev(eid, hh, mm, typ="click", val=1.0):
        return (eid, dt.datetime(2024, 3, 1, hh, mm), 1, typ, val, "{}")

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q = stream_event_counts(
            spark, in_dir, out_dir, ck,
            spark.createDataFrame([], schema).schema,
            window="1 hour", watermark="2 hours")
        q.awaitTermination(120)
        return {(r.window_start.hour, r.event_type):
                (r.n_events, r.sum_value_milli)
                for r in spark.read.parquet(out_dir).collect()}

    # batch 1: two events in the 10:00 window, one at 13:00 ->
    # watermark 11:00 finalizes the 10:00 window
    got = run_batch([ev(1, 10, 0), ev(2, 10, 40), ev(3, 13, 0)])
    assert got[(10, "click")] == (2, 2000)

    # batch 2: a late-but-in-watermark event (12:30, window open) and
    # a too-late one (10:15, behind the 11:00 watermark)
    got = run_batch([ev(4, 12, 30), ev(5, 10, 15)])
    assert got[(10, "click")] == (2, 2000)     # unchanged

    # batch 3: 15:30 advances the watermark to 13:30 -> the 12:00
    # window finalizes WITH the late event; the too-late one is gone
    got = run_batch([ev(6, 15, 30)])
    assert got[(12, "click")] == (1, 1000)     # late event counted
    assert got[(10, "click")] == (2, 2000)     # too-late still dropped
