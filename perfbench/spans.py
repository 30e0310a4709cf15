"""Spans recorded from the benchmark's side of each layer boundary.

``Tracer.instrument()`` wraps the public functions of the program's layers
(listed in ``LAYER_CALLS``) so that every call records a span: name,
layer, start, end, parent span and the run's shared id.  While a span is
open it is also the SparkContext's job group, so the event log ties each
Spark job (and its stages) to the span that started it.  Spans stay in
memory; the caller writes them out when the run ends.

A layer's self time is its spans' duration minus the part covered by child
spans.  Lazy DataFrame builders only plan inside their span; the work they
describe runs inside whichever span triggers the action, which is why the
traced run also materializes those layers on their own (``probe`` spans).

``PeakRss`` samples the summed resident memory of this process and every
descendant (the driver JVM and its Python workers).
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import threading
import time
import uuid
from contextlib import contextmanager

# (layer, module, attribute path) — the layer boundaries the trace records
LAYER_CALLS = [
    ("session", "table_ocr_spark.session", "build_session"),
    ("pipeline", "table_ocr_spark.plans.pipeline", "run_extract"),
    ("catalog", "table_ocr_spark.sources.catalog", "load_transcripts"),
    ("catalog", "table_ocr_spark.sources.catalog", "ExtractionTable.committed_buckets"),
    ("catalog", "table_ocr_spark.sources.catalog", "ExtractionTable.append_lineage"),
    ("extract_job", "table_ocr_spark.operators.extract_job", "with_extraction"),
    ("skew", "table_ocr_spark.operators.skew", "effective_skew_threshold"),
    ("skew", "table_ocr_spark.operators.skew", "heavy_conv_ids_materialized"),
    ("skew", "table_ocr_spark.operators.skew", "salted_repartition"),
    ("conv_scope", "table_ocr_spark.operators.conv_scope", "strip_conv_boilerplate"),
    ("conv_scope", "table_ocr_spark.operators.conv_scope", "conv_text"),
    ("textstats", "table_ocr_spark.operators.textstats", "pack_sequences"),
    ("dedup", "table_ocr_spark.operators.dedup", "minhash_signatures"),
    ("dedup", "table_ocr_spark.operators.dedup", "minhash_lsh_star_pairs"),
    ("dedup", "table_ocr_spark.operators.dedup", "lsh_pairs_against"),
    ("dedup", "table_ocr_spark.operators.dedup", "lsh_banded"),
    ("dedup", "table_ocr_spark.operators.dedup", "verify_pairs_jaccard"),
    ("dedup", "table_ocr_spark.operators.dedup", "near_dup_components"),
    ("dedup", "jobs.curate", "_sync_lsh_index"),
    ("snapshots", "table_ocr_spark.sources.snapshots", "SnapshotTable.append"),
    ("snapshots", "table_ocr_spark.sources.snapshots", "SnapshotTable.overwrite"),
    ("snapshots", "table_ocr_spark.sources.snapshots", "SnapshotTable.merge"),
    ("snapshots", "table_ocr_spark.sources.snapshots", "SnapshotTable.read"),
    ("snapshots", "table_ocr_spark.sources.snapshots", "SnapshotTable.read_changes"),
    ("snapshots", "table_ocr_spark.sources.snapshots", "SnapshotTable.compact"),
    ("mixture", "table_ocr_spark.operators.mixture", "rebalance_mixture"),
    ("ordering", "table_ocr_spark.operators.ordering", "shuffle_key_col"),
]

# counted, not spanned: called dozens of times per job, mostly in a loop
COUNTED_CALLS = [
    ("snapshots.manifests_read", "table_ocr_spark.sources.snapshots", "SnapshotTable.manifest"),
]


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._stack: list[dict] = []
        self._undo: list = []

    # ------------------------------------------------------------------ spans

    def _set_group(self, span: dict | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", span["id"] if span else None)

    @contextmanager
    def span(self, name: str, layer: str):
        s = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # ------------------------------------------------------------ wrapping

    @staticmethod
    def _resolve(module: str, path: str):
        owner = importlib.import_module(module)
        *outer, attr = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        return owner, attr

    def _patch(self, module: str, path: str, make_wrapper) -> None:
        owner, attr = self._resolve(module, path)
        orig = getattr(owner, attr)
        wrapped = make_wrapper(orig)
        targets = [(owner, attr)]
        if isinstance(owner, type(sys)):
            # modules that imported the function by name hold their own
            # reference: rebind those too
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if mod is not owner and name.split(".")[0] in ("table_ocr_spark", "jobs"):
                    for k, v in list(vars(mod).items()):
                        if v is orig:
                            targets.append((mod, k))
        for obj, k in targets:
            setattr(obj, k, wrapped)
            self._undo.append((obj, k, orig))

    def instrument(self) -> None:
        for layer, module, path in LAYER_CALLS:
            name = f"{layer}.{path.split('.')[-1]}"

            def make(orig, name=name, layer=layer):
                @functools.wraps(orig)
                def wrapper(*a, **kw):
                    with self.span(name, layer):
                        return orig(*a, **kw)

                return wrapper

            self._patch(module, path, make)
        for counter, module, path in COUNTED_CALLS:

            def make_counter(orig, counter=counter):
                @functools.wraps(orig)
                def wrapper(*a, **kw):
                    self.counts[counter] = self.counts.get(counter, 0) + 1
                    return orig(*a, **kw)

                return wrapper

            self._patch(module, path, make_counter)

    def restore(self) -> None:
        for obj, k, orig in reversed(self._undo):
            setattr(obj, k, orig)
        self._undo.clear()

    # ------------------------------------------------------------ analysis

    def children(self, span_id: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(span["id"]))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            a, b = max(a, span["start"]), min(b, span["end"])
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (span["end"] - span["start"]) - covered

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children(s["id"])
        return out

    def owner_of(self, t_ms: int, group: str | None) -> dict | None:
        """The span a Spark job belongs to: its job group when set, else the
        innermost span open at its submission time."""
        if group:
            for s in self.spans:
                if s["id"] == group:
                    return s
        t = t_ms / 1000
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


class PeakRss:
    """Background sampler of the summed resident memory (RSS) of this
    process and its descendants, in MB: the driver Python, the JVM and the
    Python workers.  ``peak_by_comm`` keeps each process name's own peak,
    for the report."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        me = os.getpid()
        parent, comm = {}, {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                # the comm field may hold spaces: fields resume after ')'
                head, tail = stat.rsplit(")", 1)
                parent[int(d)] = int(tail.split()[1])
                comm[int(d)] = head.split("(", 1)[1]
        total, by_comm = 0, {}
        for pid in parent:
            p = pid
            while p not in (me, 0, 1) and p in parent:
                p = parent[p]
            if p != me and pid != me:
                continue
            if comm.get(parent[pid]) == "java" and _exe(pid) == _exe(parent[pid]):
                # a JVM fork that has not exec'd its child program yet: it
                # shares the JVM's pages and would count them twice
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            total += rss
            by_comm[comm[pid]] = by_comm.get(comm[pid], 0) + rss
        self.peak_bytes = max(self.peak_bytes, total)
        for k, v in by_comm.items():
            self.peak_by_comm[k] = max(self.peak_by_comm.get(k, 0), v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
