"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark process around the public
functions of each layer, by patching module attributes in that process
only; the program's source is untouched.  Each wrapper records a span,
labels the Spark jobs it starts with the layer's job group, and forces
a returned DataFrame (persist + count) so the span covers the layer's
work.  Task metrics come from Spark's event log, folded per job group.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"
RUN_LAYER = "run"  # jobs of the traced operation outside every layer span


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rows: int | None = None   # count of a forced DataFrame result


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children may overlap; their union is taken)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


def layer_self(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.layer] = out.get(s.layer, 0.0) + t
    return out


def coverage(spans: list[Span], wall: float) -> float:
    """Share of the traced wall explained by layer self times."""
    return sum(self_times(spans)) / wall if wall > 0 else 0.0


# (module, attribute, layer, force): the public functions of each layer.
# ``force`` is off where forcing would run work the untraced operation
# never runs (build_graph's node table is discarded by run_kg) or where
# the function's cost is driver-side planning (fan_out's probe).
_PIPE, _OPS = "phonlp_spark.pipeline.", "phonlp_spark.ops."
TARGETS = [
    (_PIPE + "ingest", "split_sentences", "ingest", True),
    (_OPS + "fanout", "fan_out", "fanout", False),
    (_PIPE + "annotate", "annotate_sentences_df", "annotate", True),
    (_PIPE + "annotate", "mentions_df", "annotate", True),
    (_PIPE + "annotate", "triples_df", "annotate", True),
    (_PIPE + "linking", "link_surfaces", "linking", True),
    (_PIPE + "cc", "canonical_map", "cc", True),
    (_PIPE + "cc", "connected_components", "cc", True),
    (_PIPE + "materialize", "build_graph", "materialize", False),
    (_PIPE + "materialize", "nodes_from_linked", "materialize", False),
    (_PIPE + "materialize", "input_fingerprint", "materialize", False),
    (_PIPE + "materialize", "done_buckets", "materialize", False),
    (_OPS + "dedup", "token_shingles", "dedup", True),
    (_OPS + "dedup", "_signatures_from_shingles", "dedup", True),
    (_OPS + "dedup", "lsh_pairs_from_signatures", "dedup", True),
    (_OPS + "dedup", "lsh_candidate_pairs", "dedup", True),
    (_OPS + "dedup", "lsh_verified_pairs", "dedup", True),
    (_OPS + "dedup", "jaccard_pairs", "dedup", True),
]


class Tracer:
    """Span recorder and module patcher for one traced operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.forced = []
        self.checkpoints = 0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.window = (0.0, 0.0)  # epoch seconds of the traced operation

    # -- job groups -------------------------------------------------
    def _group(self, layer: str) -> None:
        self.sc.setJobGroup(GROUP_PREFIX + layer, layer)

    def _wrap(self, fn, name: str, layer: str, force: bool):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = self._stack[-1] if self._stack else None
            span = Span(name, layer, time.perf_counter(), parent=parent)
            self.spans.append(span)
            self._stack.append(len(self.spans) - 1)
            self._group(layer)
            try:
                out = fn(*args, **kwargs)
                if force and isinstance(out, DataFrame):
                    out = out.persist()
                    span.rows = out.count()
                    self.forced.append(out)
                return out
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                self._group(self.spans[self._stack[-1]].layer
                            if self._stack else RUN_LAYER)
        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every target in each loaded module that holds it, so
        names bound by ``from ... import`` are wrapped too."""
        import importlib

        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        for mod_name, attr, layer, force in TARGETS:
            fn = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(fn, attr, layer, force)
            for name, mod in list(sys.modules.items()):
                if (name.startswith("phonlp_spark")
                        and getattr(mod, attr, None) is fn):
                    self._patch(mod, attr, wrapped)
        for meth in ("parquet", "save"):
            self._patch(DataFrameWriter, meth,
                        self._wrap_writer(getattr(DataFrameWriter, meth)))
        orig_lc = DataFrame.localCheckpoint

        def local_checkpoint(df, *a, **k):
            self.checkpoints += 1
            return orig_lc(df, *a, **k)
        self._patch(DataFrame, "localCheckpoint", local_checkpoint)

    def _wrap_writer(self, meth):
        tracer = self

        @functools.wraps(meth)
        def write(writer, path=None, *args, **kwargs):
            table = str(path).rstrip("/").rsplit("/", 1)[-1] if path else "?"
            return tracer._wrap(meth, f"write:{table}", "materialize",
                                False)(writer, path, *args, **kwargs)
        return write

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        for df in self.forced:
            df.unpersist()
        self.forced.clear()

    def run(self, op):
        """Run ``op`` traced; returns its wall seconds."""
        self._group(RUN_LAYER)
        self.window = (time.time(), 0.0)
        t0 = time.perf_counter()
        try:
            op()
        finally:
            wall = time.perf_counter() - t0
            self.window = (self.window[0], time.time())
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return wall


# -- event log -------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0     # JVM executor CPU + Python worker time
    shuffle_mb: float = 0.0     # shuffle bytes written
    spill_mb: float = 0.0       # bytes spilled to disk
    gc_s: float = 0.0
    task_durations: list[float] = field(default_factory=list)
    job_spans: list[tuple[float, float]] = field(default_factory=list)


_PY_RUN = "time to run Python workers"


def fold_event_log(lines, prefix: str = GROUP_PREFIX) -> dict[str, GroupStats]:
    """Per job group (prefix stripped) task metrics of an event log.

    Only jobs whose group starts with ``prefix`` are kept.  A task is
    attributed to its stage's group, taken from the stage's submission
    properties; job wall spans use the JVM's epoch milliseconds."""
    out: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def group(props) -> str | None:
        g = (props or {}).get("spark.jobGroup.id")
        return g[len(prefix):] if g and g.startswith(prefix) else None

    for line in lines:
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            g = group(e.get("Properties"))
            if g is not None:
                job_group[e["Job ID"]] = g
                job_start[e["Job ID"]] = e["Submission Time"] / 1000
                out.setdefault(g, GroupStats()).jobs += 1
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_group:
            g = job_group[e["Job ID"]]
            out[g].job_spans.append((job_start[e["Job ID"]],
                                     e["Completion Time"] / 1000))
        elif ev == "SparkListenerStageSubmitted":
            g = group(e.get("Properties"))
            if g is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = g
                out.setdefault(g, GroupStats()).stages += 1
        elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_group:
            st = out[stage_group[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            py_ms = sum(float(a.get("Update", 0) or 0)
                        for a in info.get("Accumulables", [])
                        if a.get("Name") == _PY_RUN)
            st.tasks += 1
            st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9 + py_ms / 1e3
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_mb += ((m.get("Shuffle Write Metrics") or {})
                              .get("Shuffle Bytes Written", 0)) / 2**20
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
            if info.get("Finish Time") and info.get("Launch Time"):
                st.task_durations.append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000)
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def skew(durations: list[float]) -> float:
    """Longest task over the median task."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0


# -- kernel phases -----------------------------------------------------

KERNEL_PHASES = [
    # (owner path, attribute, phase)
    ("phonlp_spark.kernel.encoder:HashedNgramEncoder", "encode_padded",
     "encode"),
    ("phonlp_spark.kernel.annotate", "viterbi_batch", "viterbi"),
    ("phonlp_spark.kernel.annotate", "mst_single_root", "mst"),
    ("phonlp_spark.kernel.annotate", "spans_from_bioes", "bioes"),
    ("phonlp_spark.kernel.annotate", "extract_triples", "triples"),
    ("phonlp_spark.kernel.vocab:Vocab", "unmap", "unmap"),
]


def kernel_phases(sentences: list[list[str]]) -> dict[str, float]:
    """Phase times of one single-process ``AnnotationKernel.annotate``
    over ``sentences``, after an untimed pass that fills the encoder's
    word cache and loads the native MST solver."""
    import importlib

    from phonlp_spark.kernel import mst
    from phonlp_spark.kernel.annotate import AnnotationKernel

    kernel = AnnotationKernel()
    kernel.annotate(sentences)
    acc = {p: 0.0 for _, _, p in KERNEL_PHASES}
    calls = {p: 0 for _, _, p in KERNEL_PHASES}
    pad = [0, 0]  # padded positions, real tokens

    def timed(fn, phase):
        def wrapper(*args, **kwargs):
            if phase == "encode":  # (self, sentences, max_len)
                pad[0] += len(args[1]) * args[2]
                pad[1] += sum(len(s) for s in args[1])
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                acc[phase] += time.perf_counter() - t
                calls[phase] += 1
        return wrapper

    patches = []
    for path, attr, phase in KERNEL_PHASES:
        mod, _, cls = path.partition(":")
        owner = importlib.import_module(mod)
        owner = getattr(owner, cls) if cls else owner
        fn = getattr(owner, attr)
        patches.append((owner, attr, fn))
        setattr(owner, attr, timed(fn, phase))
    try:
        t0 = time.perf_counter()
        kernel.annotate(sentences)
        total = time.perf_counter() - t0
    finally:
        for owner, attr, fn in patches:
            setattr(owner, attr, fn)
    out = {f"kernel.{p}_s": v for p, v in acc.items()}
    out.update({
        "kernel.sentences_per_s": len(sentences) / total,
        "kernel.mst_calls": calls["mst"],
        "kernel.other_s": max(0.0, total - sum(acc.values())),
        "kernel.pad_ratio": pad[0] / pad[1] if pad[1] else 0.0,
        "kernel.mst_native": int(mst._native_fn() is not None),
    })
    return out
