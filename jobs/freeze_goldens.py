"""Regenerate the frozen golden values.

`transformer` rewrites edspdf_spark/frozen.py — frozen-literal golden
values backing the DuckDB oracle of `bloc_transformer` (softmax
attention is not SQL-expressible, so the oracle derives the ROW SET
independently from the synth-corpus CTE and pins the contextualized
values as a VALUES table — the trainable_classify frozen-weights
precedent). Run after ANY change to the transformer kernel, the
box-layout embedding, or the synth corpus. The contract test
(tests/test_entry_contract.py) then enforces that the distributed
Spark execution reproduces these values bit-exactly.

`kernel` rewrites tests/kernel_goldens.json — per-doc digests of the
PDF kernels' outputs over the synth corpus, its structure mutants and
its byte fuzz (tests/test_kernel_goldens.py). Run only after a
deliberate change to what the kernels emit; no Spark needed.

    python jobs/freeze_goldens.py [transformer|kernel]   # default: both
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def freeze_transformer():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .appName("freeze-goldens").getOrCreate())
    import __spark_entry__ as entry

    rows = entry.q_bloc_transformer(spark, "/root/testdata/sf0.001").collect()
    recs = []
    for r in rows:
        i = int(r["url"][-12:-4])  # https://example.org/doc/%08d.pdf
        recs.append((i, int(r["page_num"]), int(r["order_idx"]),
                     repr(float(r["z0"])), repr(float(r["z1"])),
                     repr(float(r["z23"]))))
    recs.sort()
    path = os.path.join(REPO, "edspdf_spark", "frozen.py")
    with open(path, "w") as f:
        f.write('"""Frozen-literal transformer goldens over the '
                'deterministic synth corpus.\n\nGenerated by '
                'jobs/freeze_goldens.py — DO NOT EDIT BY HAND.\n"""\n\n'
                "# (doc_index, page_num, order_idx, repr(z0), repr(z1),"
                " repr(z23))\n"
                "BLOC_TRANSFORMER_GOLDEN = [\n")
        for t in recs:
            f.write(f"    {t!r},\n")
        f.write("]\n")
    print(f"wrote {path}: {len(recs)} rows")
    spark.stop()


def freeze_kernel():
    from tests.test_kernel_goldens import FIXTURE, write_fixture

    print(f"wrote {FIXTURE}: {write_fixture()} docs")


def main(argv):
    targets = argv or ["transformer", "kernel"]
    for t in targets:
        {"transformer": freeze_transformer, "kernel": freeze_kernel}[t]()


if __name__ == "__main__":
    main(sys.argv[1:])
