"""The benchmark workloads: closed loop, one client thread, public API.

Each workload builds its store in `setup` (repeated; the median is the
set-up time, and the first repetition also warms the JVM), runs an
untimed warm-up where set-up did not already run the op's code, then
runs rounds of ops until the time budget is spent, finishing the round
it is in so every run has the same op mix.  Every timed op consumes every output column, and
every output is checked, untimed, against an independent computation.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.trace import dir_bytes

K = 10
QUERY_BATCH = 10


def consume(df) -> pd.DataFrame:
    """Materialize every column of `df` on the driver.  `count()` is not
    enough: Catalyst prunes the projections it does not need."""
    return df.toPandas()


class Workload:
    name = ""
    setup_reps = 3
    # (end-to-end metric name, op kind) of the op the workload is about
    headline = ("query_p50_ms", "query")
    # ops of each kind in one round; ops_per_s is the round's throughput
    # at the median latency of each kind
    mix: dict[str, int] = {}
    # spans whose per-op time the traced run reports for the headline op
    layers = (
        "database.is_empty",
        "database.query_vectors",
        "database.index",
        "database.insert_records",
        "index.lsh.build",
        "index.lsh.probe_keys",
        "index.lsh.search_vectors",
    )

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.input_bytes = 0
        self.extra: dict[str, float] = {}

    # subclasses: setup(rep) builds a fresh store; round_() runs one
    # round of ops through self.timed; finish() runs the final checks
    def store(self) -> str | None:
        return None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def timed(self, kind: str, fn):
        """Run one op, record its latency; an exception or a failed
        check (self.check returning False) counts as a failed op."""
        self.attempted += 1
        ctx = nullcontext()
        traced = self.tracer is None or self.tracer.enabled
        if self.tracer and traced:
            ctx = self.tracer.op(kind, self.store())
        ok = False
        try:
            with ctx:
                t0 = time.perf_counter()
                out = fn()
                dt = (time.perf_counter() - t0) * 1e3
            self.lat.setdefault(kind + ("" if traced else ".untraced"), []).append(dt)
            ok = self.check(kind, out)
        except Exception as e:  # the run goes on; the op counts as failed
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
        if not ok:
            self.failed += 1

    def check(self, kind: str, out) -> bool:
        return True

    def median_ms(self, kind: str) -> float | None:
        """Median latency of one op kind, traced and untraced samples."""
        return p50(self.lat.get(kind, []) + self.lat.get(kind + ".untraced", []))

    def ops_per_s(self) -> float:
        """Throughput of one round with every op at its kind's median
        latency.  One slow op, or a stall of the host during it, moves
        this less than it moves ops over wall time (wall_ops_per_s)."""
        return sum(self.mix.values()) / sum(
            n * self.median_ms(kind) / 1e3 for kind, n in self.mix.items())

    def probe_vectors(self) -> np.ndarray:
        emb = self.db.embeddings().limit(QUERY_BATCH).toPandas()
        return np.stack(emb.embedding.values)

    def layer_counts(self) -> dict:
        """Untimed, after the run: index.lsh work counts from its public
        probe_keys and bucket_counts."""
        idx = self.db.index()
        keys = idx.probe_keys(self.probe_vectors(), probes=8).drop_duplicates()
        sizes = idx.bucket_counts().toPandas()
        cand = keys.merge(sizes, on=["tree_id", "bucket_id", "nbits"])
        per_query = cand.groupby("query_id").n.sum()
        return {
            "index.lsh.candidates_per_result": {
                "value": float(per_query.mean() / K), "unit": "ratio"},
            "index.lsh.appends": {"value": float(idx.appends), "unit": "count"},
        }

    def run(self, seconds: float) -> float:
        """Timed phase: whole rounds until `seconds` have passed.  A
        traced run then adds one untraced round; the difference of the
        headline op's medians is the tracing overhead."""
        t0 = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - t0 < seconds:
            self.round_()
            n += 1
        phase = time.perf_counter() - t0
        self.phase_ops = self.attempted
        if self.tracer:
            self.tracer.enabled = False
            self.round_()
            self.tracer.enabled = True
        return phase


# -- serve ------------------------------------------------------------------


class Serve(Workload):
    """Read-only k-NN over a persisted LSH index: 4 ANN batches, then
    one exact batch, per round."""

    name = "serve"
    headline = ("query_p50_ms", "ann_query")
    mix = {"ann_query": 4, "exact_query": 1}
    n = 5000
    pool = 50  # distinct query batches, reused in order

    def setup(self, rep: int) -> None:
        from zebra_spark.database import ZebraDatabase

        corpus, queries = inputs.clustered_vectors(
            self.seed, self.n, self.pool * QUERY_BATCH
        )
        self.corpus, self.queries = corpus, queries
        self.input_bytes = corpus.input_bytes
        path = f"{self.work}/serve-{rep}"
        db = ZebraDatabase.create(self.spark, path, dim=inputs.DIM, metric="l2sq")
        pdf = pd.DataFrame({"doc": corpus.docs, "embedding": list(corpus.vecs)})
        db.insert_records(self.spark.createDataFrame(
            pdf, "doc string, embedding array<double>"
        ))
        db.save_index()
        self.db = ZebraDatabase.open(self.spark, path)
        self.db.index()
        if rep:
            shutil.rmtree(f"{self.work}/serve-{rep - 1}", ignore_errors=True)
        self.path = path

    def prepare(self) -> None:
        """Untimed: map stored ids back to corpus rows, then warm up."""
        docs = self.db.documents().select("vec_id", "doc").toPandas()
        self.row_of = dict(zip(docs.vec_id, docs.doc.str.slice(5).astype(int)))
        self.next_batch = 0
        self.ann_hits = 0
        self.ann_total = 0
        with self.span("warmup"):
            for exact in (True, False):
                _, vecs = self._batch()
                consume(self.db.query_vectors(vecs, k=K, exact=exact))

    def store(self) -> str:
        return self.path

    def probe_vectors(self) -> np.ndarray:
        return self.queries[:QUERY_BATCH]

    def _batch(self) -> tuple[int, np.ndarray]:
        """The next query batch of the pool: (index, vectors)."""
        b = self.next_batch % self.pool
        self.next_batch += 1
        return b, self.queries[b * QUERY_BATCH:(b + 1) * QUERY_BATCH]

    def _truth(self, b: int) -> tuple[list[list[int]], np.ndarray]:
        """numpy brute-force top-k rows by (squared L2, row), and the
        distance matrix."""
        q = self.queries[b * QUERY_BATCH:(b + 1) * QUERY_BATCH]
        d = np.stack([((self.corpus.vecs - v) ** 2).sum(-1) for v in q])
        out = []
        for row in d:
            top = np.lexsort((np.arange(len(row)), row))[:K]
            out.append([int(t) for t in top])
        return out, d

    def round_(self) -> None:
        ann = self.mix["ann_query"]
        for i in range(ann + 1):
            exact = i == ann
            b, batch = self._batch()
            kind = "exact_query" if exact else "ann_query"
            self.timed(kind, lambda: (b, consume(
                self.db.query_vectors(batch, k=K, exact=exact))))

    def check(self, kind: str, out) -> bool:
        b, res = out
        truth, d = self._truth(b)
        ok = True
        for qi in range(QUERY_BATCH):
            got = res[res.query_id == qi].sort_values("rank")
            rows = [self.row_of.get(v, -1) for v in got.vec_id]
            if kind == "exact_query":
                if len(rows) != K or -1 in rows:
                    return False
                for r_got, r_true, dist in zip(rows, truth[qi], got.dist):
                    # equal ids, or an exact distance tie resolved by id
                    if r_got != r_true and abs(d[qi, r_got] - d[qi, r_true]) > 1e-9:
                        return False
                    if abs(dist - d[qi, r_got]) > 1e-4:
                        return False
            else:
                self.ann_hits += len(set(rows) & set(truth[qi]))
                self.ann_total += K
                ok = ok and len(rows) == K
        return ok

    def finish(self) -> bool:
        self.extra["recall_at_10"] = self.ann_hits / max(1, self.ann_total)
        self.extra["bytes_stored_per_input_byte"] = dir_bytes(self.path) / self.input_bytes
        return self.extra["recall_at_10"] >= 0.9


# -- ingest -----------------------------------------------------------------


class Ingest(Workload):
    """Writes beside reads on one store: per round, one remove, then
    `cycles` inserts each followed by a read-after-write query batch.
    The first query of a round reads through the index rebuilt after the
    remove, the second through the append the insert before it added."""

    name = "ingest"
    base = 1000
    batch = 200
    cycles = 2
    mix = {"remove": 1, "insert": cycles, "query": cycles}
    remove_n = 40

    def setup(self, rep: int) -> None:
        from zebra_spark.database import ZebraDatabase

        texts = inputs.zipf_texts(self.seed, self.base, stream=2)
        self.input_bytes = inputs.text_bytes(texts)
        path = f"{self.work}/ingest-{rep}"
        db = ZebraDatabase.create(self.spark, path, dim=inputs.DIM, metric="l2sq")
        db.insert_documents(self._frame(texts))
        db.index()
        if rep:
            shutil.rmtree(f"{self.work}/ingest-{rep - 1}", ignore_errors=True)
        self.db, self.path = db, path

    def _frame(self, texts):
        return self.spark.createDataFrame(pd.DataFrame({"doc": texts}), "doc string")

    def store(self) -> str:
        return self.path

    def prepare(self) -> None:
        docs = self.db.documents().select("vec_id").toPandas()
        self.alive = set(int(v) for v in docs.vec_id)
        self.removed: set[int] = set()
        self.n_inserted = 0
        self.n_removed = 0
        self.cycle = 0
        self.rng = np.random.default_rng([self.seed, 7])

    def _cycle(self) -> None:
        texts = inputs.zipf_texts(self.seed, self.batch, stream=100 + self.cycle)
        self.cycle += 1
        self.input_bytes += inputs.text_bytes(texts)
        frame = self._frame(texts)
        picks = [texts[int(i)] for i in self.rng.choice(len(texts), QUERY_BATCH, replace=False)]
        self.timed("insert", lambda: (len(texts), consume(self.db.insert_documents(frame))))
        self.timed("query", lambda: (picks, consume(self.db.query_texts(picks, k=K))))

    def _inserted(self, pdf, n) -> bool:
        ids = set(int(v) for v in pdf.vec_id)
        self.alive |= ids
        self.n_inserted += len(ids)
        return len(ids) == n

    def round_(self) -> None:
        pick = sorted(self.rng.choice(sorted(self.alive), self.remove_n, replace=False))
        self.timed("remove", lambda: ("remove", pick, self.db.remove([int(i) for i in pick])))
        for _ in range(self.cycles):
            self._cycle()

    def check(self, kind: str, out) -> bool:
        if kind == "insert":
            return self._inserted(out[1], out[0])
        if kind == "remove":
            ids = set(int(i) for i in out[1])
            self.alive -= ids
            self.removed |= ids
            self.n_removed += len(ids)
            return True
        picks, res = out
        if set(int(v) for v in res.vec_id) & self.removed:
            return False
        # each query text was just inserted: its own row (or an
        # identical text) must come back among its neighbours
        return all(
            (res[res.query_id == qi].doc == text).any()
            for qi, text in enumerate(picks)
        )

    def finish(self) -> bool:
        self.extra["bytes_stored_per_input_byte"] = dir_bytes(self.path) / self.input_bytes
        expected = self.base + self.n_inserted - self.n_removed
        self.extra["final_count"] = self.db.count()
        return self.extra["final_count"] == expected


# -- tick -------------------------------------------------------------------


class Tick(Workload):
    """Nightly maintenance over a fixture-layout corpus: each op restores
    the same base state (untimed), then runs one run_tick(audit=True) on
    a fresh equal-sized batch and materializes every audit section, so
    every sample does the same amount of work."""

    name = "tick"
    headline = ("tick_p50_ms", "tick")
    mix = {"tick": 1}
    layers = (
        "queries.tick.run_tick",
        "queries.dedup.pair_table_delta",
        "queries.dedup.cosine_assign_delta",
        "queries.dedup.cosine_pair_table_delta",
        "graph.incremental_components",
        "queries.audit.snapshot_audit",
        "queries.audit.sections",
        "queries.tick.init_tick_state",
    )
    setup_reps = 1  # one base build costs ~30 s on 4 cores
    base = 1000
    batch = 200

    def setup(self, rep: int) -> None:
        from zebra_spark.io import embeddings_d, load
        from zebra_spark.queries.tick import init_tick_state, run_tick

        docs, embs = inputs.fixture_corpus(self.seed, self.base)
        self.base_docs = docs
        self.input_bytes = inputs.fixture_input_bytes(docs, embs)
        self.sf = f"{self.work}/tick-sf-{rep}"
        inputs.write_fixture(self.sf, docs, embs)
        self.path = f"{self.work}/tick-state-{rep}"
        vecs = embeddings_d(self.spark, self.sf).select("vec_id", "emb")
        init_tick_state(self.spark, self.sf, self.path, seed_vecs=vecs)
        run_tick(self.spark, self.sf, self.path,
                 load(self.spark, self.sf, "documents").select("doc_id", "text"), vecs)
        self.snapshot = f"{self.path}.base"
        shutil.copytree(self.path, self.snapshot)

    def store(self) -> str:
        return self.path

    def prepare(self) -> None:
        self.n_ops = 0
        with self.span("warmup"):
            self._restore()
            self._pending = self._batch_frames()
            self._tick_op()

    def _restore(self) -> None:
        from zebra_spark.caching import release_caches

        release_caches()
        shutil.rmtree(self.path)
        shutil.copytree(self.snapshot, self.path)

    def _batch_frames(self):
        docs, embs = inputs.fixture_corpus(
            self.seed, self.batch, id_base=self.base, stream=4 + self.n_ops)
        self.n_ops += 1
        self.last_batch = docs
        self.batch_bytes = inputs.fixture_input_bytes(docs, embs)
        bd = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": docs["doc_id"], "text": docs["text"]}),
            "doc_id bigint, text string")
        bv = self.spark.createDataFrame(
            pd.DataFrame({"vec_id": embs["vec_id"],
                          "emb": [v.astype(np.float64) for v in embs["embedding"]]}),
            "vec_id bigint, emb array<double>")
        return bd, bv

    def _tick_op(self):
        from zebra_spark.queries.tick import run_tick

        frames = run_tick(self.spark, self.sf, self.path, *self._pending, audit=True)
        with self.span("queries.audit.sections"):
            for df in frames.values():
                df.write.format("noop").mode("overwrite").save()
        return frames

    def round_(self) -> None:
        self._restore()
        self._pending = self._batch_frames()
        self.timed("tick", self._tick_op)

    def check(self, kind: str, out) -> bool:
        from zebra_spark.queries.audit import AUDIT_SECTIONS

        return set(out) == set(AUDIT_SECTIONS)

    def finish(self) -> bool:
        """The maintained minhash pair table equals the from-scratch
        DuckDB recomputation over the final corpus (base + last batch)."""
        import duckdb

        import zebra_spark.queries.tick  # noqa: F401  (registers the oracle)
        from zebra_spark.registry import ORACLES

        corpus = pd.DataFrame({
            "doc_id": np.concatenate([self.base_docs["doc_id"], self.last_batch["doc_id"]]),
            "text": list(self.base_docs["text"]) + list(self.last_batch["text"]),
        })
        con = duckdb.connect()
        try:
            con.register("documents", corpus)
            want = con.execute(ORACLES["q_tick_chain_pairs"]).fetchdf()
            got = con.execute(
                f"SELECT doc_a, doc_b, n_common, CAST(na AS BIGINT) na, CAST(nb AS BIGINT) nb "
                f"FROM read_parquet('{self.path}/minhash/*.parquet')").fetchdf()
        finally:
            con.close()
        cols = ["doc_a", "doc_b", "n_common", "na", "nb"]
        key = lambda df: sorted(map(tuple, df[cols].astype("int64").values.tolist()))  # noqa: E731
        self.extra["minhash_pairs"] = len(want)
        self.extra["bytes_stored_per_input_byte"] = dir_bytes(self.path) / (
            self.input_bytes + self.batch_bytes)
        return len(want) > 0 and key(want) == key(got)

    def layer_counts(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Serve, Ingest, Tick)}


def percentile_tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value), or None with fewer than 20 samples."""
    n = len(samples)
    if n < 20:
        return None
    s = sorted(samples)
    idx = n - 11  # ten samples lie above s[idx]
    return 100.0 * (idx + 1) / n, s[idx]


def p50(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None
