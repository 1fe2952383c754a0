"""Spans around the program's public calls, recorded from outside.

`Tracer.install()` wraps each public function named in `LAYER_CALLS`
by replacing the attribute through which the program looks it up; the
program's files are not edited.  Each span records its name, start,
end, parent span and op id, and sets a Spark job group for its
duration, so the jobs a call submits from the calling thread are
attributed to the innermost span around them.  Spans stay in memory
and are written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from perfbench.sparkstats import STAGE_FIELDS, SparkCounters, driver_gap_ms

# span name -> (module, attribute path) of the public call it wraps.  A
# function imported by name into another module is wrapped where its
# caller looks it up (hash_tf_embedding is called through database).
LAYER_CALLS = {
    "database.is_empty": ("zebra_spark.database", "ZebraDatabase.is_empty"),
    "database.query_texts": ("zebra_spark.database", "ZebraDatabase.query_texts"),
    "database.query_vectors": ("zebra_spark.database", "ZebraDatabase.query_vectors"),
    "database.insert_documents": ("zebra_spark.database", "ZebraDatabase.insert_documents"),
    "database.insert_records": ("zebra_spark.database", "ZebraDatabase.insert_records"),
    "database.remove_df": ("zebra_spark.database", "ZebraDatabase.remove_df"),
    "database.index": ("zebra_spark.database", "ZebraDatabase.index"),
    "database.save_index": ("zebra_spark.database", "ZebraDatabase.save_index"),
    "index.lsh.build": ("zebra_spark.index.lsh", "LSHIndex.build"),
    "index.lsh.load": ("zebra_spark.index.lsh", "LSHIndex.load"),
    "index.lsh.probe_keys": ("zebra_spark.index.lsh", "LSHIndex.probe_keys"),
    "index.lsh.search_vectors": ("zebra_spark.index.lsh", "LSHIndex.search_vectors"),
    "index.lsh.add": ("zebra_spark.index.lsh", "LSHIndex.add"),
    "index.lsh.compact": ("zebra_spark.index.lsh", "LSHIndex.compact"),
    "embed.hash_tf": ("zebra_spark.database", "hash_tf_embedding"),
    "queries.tick.init_tick_state": ("zebra_spark.queries.tick", "init_tick_state"),
    "queries.tick.run_tick": ("zebra_spark.queries.tick", "run_tick"),
    "queries.dedup.pair_table_delta": ("zebra_spark.queries.dedup", "pair_table_delta"),
    "queries.dedup.cosine_assign_delta": ("zebra_spark.queries.dedup", "cosine_assign_delta"),
    "queries.dedup.cosine_pair_table_delta": (
        "zebra_spark.queries.dedup", "cosine_pair_table_delta"),
    "graph.incremental_components": ("zebra_spark.graph", "incremental_components"),
    "queries.audit.snapshot_audit": ("zebra_spark.queries.audit", "snapshot_audit"),
}


class Tracer:
    """Records spans while `enabled`; installed wrappers cost one flag
    test when it is not, so traced and untraced ops can interleave in
    one process and their difference is the tracing overhead."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._op: dict | None = None
        self._undo: list = []

    # -- installation -------------------------------------------------

    def install(self) -> None:
        for name, (mod_name, path) in LAYER_CALLS.items():
            mod = importlib.import_module(mod_name)
            *owner_path, attr = path.split(".")
            owner = mod
            for part in owner_path:
                owner = getattr(owner, part)
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            if isinstance(raw, classmethod):
                wrapped = classmethod(self._wrap(name, raw.__func__))
            else:
                wrapped = self._wrap(name, raw)
            setattr(owner, attr, wrapped)
            self._undo.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": self._op["id"] if self._op else None,
            "group": f"perfbench-{sid}",
            "thread": threading.get_ident(),
        }
        stack.append(rec)
        self.counters.set_group(rec["group"])
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.counters.set_group(stack[-1]["group"] if stack else None)
            self.spans.append(rec)

    @contextmanager
    def op(self, kind: str, store: str | None = None):
        """One timed op: a root span plus Spark counters for every job
        that started while it ran, and the store's file listing diffed
        around it."""
        if not self.enabled:
            yield
            return
        before_files = list_files(store) if store else {}
        self.counters.settle()
        groupless_before = self.counters.groupless_jobs()
        self._op = op = {"id": len(self.ops) + 1, "kind": kind}
        try:
            with self.span(f"op.{kind}"):
                t0 = time.time()
                yield
                t1 = time.time()
        finally:
            self._op = None
        op_spans = [s for s in self.spans if s["op"] == op["id"]]
        self.counters.settle()
        for s in op_spans:
            s["jobs"] = self.counters.jobs_for_group(s["group"])
        attributed = [j for s in op_spans for j in s["jobs"]]
        unattributed = self.counters.groupless_jobs() - groupless_before
        c = self.counters.collect(attributed, unattributed)
        op.update(
            start=t0, end=t1, wall_ms=(t1 - t0) * 1e3,
            jobs=c.jobs, unattributed_jobs=c.unattributed_jobs,
            driver_gap_ms=driver_gap_ms(t0 * 1e3, t1 * 1e3, c.intervals),
            **c.totals,
        )
        if store:
            op["io"] = io_delta(before_files, list_files(store))
        self.ops.append(op)

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"meta": meta}) + "\n")
            for o in self.ops:
                f.write(json.dumps({"op": o}) + "\n")
            for s in self.spans:
                f.write(json.dumps({"span": s}) + "\n")


# -- summaries ----------------------------------------------------------


def span_ms_per_op(tracer: Tracer) -> dict[str, dict[str, float]]:
    """{op kind: {span name: median over ops of that kind of the span's
    total inclusive time in the op}}, over ops that entered the span."""
    per: dict[tuple, dict[int, float]] = {}
    kind_of = {o["id"]: o["kind"] for o in tracer.ops}
    for s in tracer.spans:
        if s["op"] not in kind_of or s["name"].startswith("op."):
            continue
        key = (kind_of[s["op"]], s["name"])
        per.setdefault(key, {})
        per[key][s["op"]] = per[key].get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
    out: dict[str, dict[str, float]] = {}
    for (kind, name), by_op in per.items():
        out.setdefault(kind, {})[name] = statistics.median(by_op.values())
    return out


def spark_per_op(tracer: Tracer, kind: str) -> dict[str, float]:
    """Median over ops of `kind` of each Spark counter."""
    ops = [o for o in tracer.ops if o["kind"] == kind]
    keys = ("jobs", "unattributed_jobs", "driver_gap_ms") + STAGE_FIELDS
    return {k: statistics.median(o[k] for o in ops) for k in keys} if ops else {}


# -- storage listing ----------------------------------------------------


def list_files(root: str) -> dict[str, int]:
    """{relative path: size} of every data file under `root`."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".crc"):
                continue
            p = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                continue
    return out


def dir_bytes(root: str) -> int:
    return sum(list_files(root).values())


def io_delta(before: dict[str, int], after: dict[str, int]) -> dict:
    """Files written (new paths), their bytes, and files live, in total
    and per top-level table directory."""
    def table(p: str) -> str:
        return p.split(os.sep, 1)[0] if os.sep in p else "."

    new = {p: n for p, n in after.items() if p not in before}
    per: dict[str, dict] = {}
    for p in after:
        per.setdefault(table(p), {"files_written": 0, "bytes_written": 0, "files_live": 0})
        per[table(p)]["files_live"] += 1
    for p, n in new.items():
        per[table(p)]["files_written"] += 1
        per[table(p)]["bytes_written"] += n
    return {
        "files_written": len(new),
        "bytes_written": sum(new.values()),
        "files_live": len(after),
        "tables": per,
    }
