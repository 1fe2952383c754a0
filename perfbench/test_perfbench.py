"""Tests of the benchmark's own parts.  Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pytest

from perfbench import inputs
from perfbench.sparkstats import SparkCounters, driver_gap_ms, union_ms
from perfbench.steady import seed_list, spread
from perfbench.workloads import Workload, consume, percentile_tail


# -- inputs -------------------------------------------------------------------


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.tobytes() if isinstance(p, np.ndarray) else repr(p).encode())
    return h.hexdigest()


def _vectors_digest(seed: int) -> str:
    corpus, queries = inputs.clustered_vectors(seed, 500, 20)
    return _digest(corpus.ids, corpus.vecs, corpus.docs, queries)


def _texts_digest(seed: int) -> str:
    return _digest(inputs.zipf_texts(seed, 200))


def _fixture_digest(seed: int, tmp_path) -> str:
    docs, embs = inputs.fixture_corpus(seed, 300)
    out = tmp_path / f"fx{seed}"
    inputs.write_fixture(str(out), docs, embs)
    return _digest(*[(out / f).read_bytes() for f in sorted(os.listdir(out))])


@pytest.mark.parametrize("digest", [_vectors_digest, _texts_digest])
def test_same_seed_same_bytes_other_seed_other_bytes(digest):
    assert digest(1) == digest(1)
    assert digest(1) != digest(2)


def test_fixture_files_repeat_per_seed(tmp_path):
    a = _fixture_digest(5, tmp_path / "a")
    assert a == _fixture_digest(5, tmp_path / "b")
    assert a != _fixture_digest(6, tmp_path / "c")


def test_near_duplicates_appear_at_the_requested_rate():
    texts = inputs.zipf_texts(3, 2000, dup_rate=0.2)
    toks = [set(t.split()) for t in texts]
    near = sum(
        any(len(a & b) / len(a | b) > 0.8 for b in toks[:i])
        for i, a in enumerate(toks[:400])
    )
    assert 40 <= near <= 120  # ~20% of the first 400


def test_input_bytes_count_every_payload():
    corpus, _ = inputs.clustered_vectors(1, 10, 1)
    assert corpus.input_bytes == 10 * 64 * 8 + 10 * 8 + sum(
        len(d) for d in corpus.docs)


# -- statistics helpers -------------------------------------------------------


def test_union_and_driver_gap():
    ivs = [(10, 20), (15, 30), (40, 50), (45, 47), (90, 200)]
    assert union_ms(ivs, 0, 100) == 20 + 10 + 10
    assert driver_gap_ms(0, 100, ivs) == 100 - 40
    assert driver_gap_ms(0, 100, []) == 100
    assert union_ms([(5, 5), (30, 10)], 0, 100) == 0


def test_tail_needs_ten_samples_beyond_it():
    assert percentile_tail(list(range(19))) is None
    pct, val = percentile_tail([float(i) for i in range(100)])
    assert val == 89.0 and sum(v > val for v in range(100)) == 10
    assert pct == 90.0


def test_ops_per_s_weights_each_kind_median_by_the_round_mix():
    wl = Workload(None, "", 1)
    wl.mix = {"a": 3, "b": 1}
    # one stalled "a" op does not move the "a" median
    wl.lat = {"a": [100.0, 100.0, 900.0], "a.untraced": [100.0], "b": [500.0]}
    assert wl.median_ms("a") == 100.0
    assert wl.ops_per_s() == pytest.approx(4 / 0.8)


def test_spread_and_seed_list():
    assert seed_list("1-3,7") == [1, 2, 3, 7]
    med, q1, q3, sp = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (med, q1, q3) == (3.0, 1.5, 4.5) and sp == 1.0


# -- Spark -------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark")))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_consume_computes_columns_count_prunes(spark):
    """The pin behind `consume`: count() never evaluates a column that
    would fail, so a count-timed op can skip work; consume cannot."""
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn("boom", F.raise_error(F.lit("evaluated")))
    assert df.count() == 10
    with pytest.raises(Exception, match="evaluated"):
        consume(df)


def test_counters_on_a_known_two_stage_job(spark):
    from pyspark.sql import functions as F

    c = SparkCounters(spark)
    c.set_group("two-stage")
    t0 = time.time() * 1e3
    rows = (
        spark.range(0, 1000, 1, 4)
        .groupBy((F.col("id") % 3).alias("k")).count().collect()
    )
    t1 = time.time() * 1e3
    c.set_group(None)
    c.settle()
    assert sorted(r["count"] for r in rows) == [333, 333, 334]
    got = c.collect(c.jobs_for_group("two-stage"))
    assert got.jobs == 1 and got.unattributed_jobs == 0
    t = got.totals
    assert t["stages"] == 2
    assert t["tasks"] == 4 + 2  # map side, then two shuffle partitions
    assert t["shuffle_write_bytes"] > 0
    assert t["shuffle_read_bytes"] == t["shuffle_write_bytes"]
    assert t["executor_run_ms"] > 0 and t["output_bytes"] == 0
    assert len(got.intervals) == 2
    gap = driver_gap_ms(t0, t1, got.intervals)
    assert 0 <= gap < t1 - t0


def test_groupless_jobs_are_found_as_unattributed(spark):
    c = SparkCounters(spark)
    before = c.groupless_jobs()
    spark.range(10).collect()
    c.settle()
    new = c.groupless_jobs() - before
    assert len(new) == 1
    assert c.collect([], new).unattributed_jobs == 1


# -- tracer ------------------------------------------------------------------


def test_tracer_wraps_and_restores_public_calls(spark):
    from perfbench.trace import LAYER_CALLS, Tracer
    from zebra_spark.database import ZebraDatabase
    from zebra_spark.index.lsh import LSHIndex

    before = (ZebraDatabase.is_empty, LSHIndex.__dict__["build"])
    tr = Tracer(SparkCounters(spark))
    tr.install()
    try:
        assert len(tr._undo) == len(LAYER_CALLS)
        assert ZebraDatabase.is_empty.__wrapped__ is before[0]
        assert isinstance(LSHIndex.__dict__["build"], classmethod)
        tr.enabled = True
        with tr.op("probe"):
            with tr.span("outer"):
                spark.range(5).collect()
        op = tr.ops[0]
        names = {s["name"]: s for s in tr.spans}
        assert names["outer"]["parent"] == names["op.probe"]["id"]
        assert len(names["outer"]["jobs"]) == 1 and op["jobs"] == 1
        assert op["unattributed_jobs"] == 0
    finally:
        tr.uninstall()
    assert ZebraDatabase.is_empty is before[0]
    assert LSHIndex.__dict__["build"] is before[1]


class _NoSpark:
    def set_group(self, group):
        pass


def test_spans_from_many_threads_keep_their_own_parents():
    import sys
    import threading

    from perfbench.trace import Tracer

    tr = Tracer(_NoSpark())
    tr.enabled = True

    def work():
        for _ in range(200):
            with tr.span("outer"):
                with tr.span("inner"):
                    pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    by_id = {s["id"]: s for s in tr.spans}
    assert len(by_id) == len(tr.spans) == 16 * 200 * 2
    for s in tr.spans:
        if s["name"] == "inner":
            parent = by_id[s["parent"]]
            assert parent["name"] == "outer" and parent["thread"] == s["thread"]
        else:
            assert s["parent"] is None


def test_io_delta_counts_new_files_per_table(tmp_path):
    from perfbench.trace import io_delta, list_files

    (tmp_path / "embeddings").mkdir()
    (tmp_path / "embeddings" / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "embeddings" / ".part-0.parquet.crc").write_bytes(b"c")
    before = list_files(str(tmp_path))
    (tmp_path / "embeddings" / "part-1.parquet").write_bytes(b"y" * 7)
    (tmp_path / "zebra.json").write_bytes(b"{}")
    d = io_delta(before, list_files(str(tmp_path)))
    assert (d["files_written"], d["bytes_written"], d["files_live"]) == (2, 9, 3)
    assert d["tables"]["embeddings"] == {
        "files_written": 1, "bytes_written": 7, "files_live": 2}
    assert d["tables"]["."]["files_written"] == 1
