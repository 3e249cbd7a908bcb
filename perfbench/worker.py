"""The measured process: one Spark session, one workload.

Started by run.py with a JSON spec.  Timeline: session start and the
cold operation (together: setup_s), the workload's untimed warm-ups,
then the timed closed loop (one operation at a time) for the requested
seconds.  With tracing on, the session also writes Spark's event log,
and one traced operation follows the timed loop.
Every operation's outputs are checked; results go to a JSON file.
"""

import time

T0 = time.perf_counter()  # process start, before the heavy imports

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

OP_TIMEOUT_S = 60.0   # an operation still running after this fails


class Runner:
    def __init__(self, spec: dict):
        self.spec = spec
        self.work = spec["work"]
        self.oracle = spec["oracle"]
        self.wl = WORKLOADS[spec["workload"]](spec["inputs"])
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.baseline: str | None = None
        self.n_op = 0

    def session(self):
        from phonlp_spark.pipeline.session import get_spark

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        extra = {
            "spark.driver.memory": self.spec["heap"],
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # a fixed heap size: peak memory then follows the work, not
            # the collector's heap-resizing decisions
            "spark.driver.extraJavaOptions":
                f"-Xms{self.spec['heap']} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if self.spec["trace"]:
            ev = os.path.join(self.work, "eventlog")
            os.makedirs(ev, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(master=f"local[{self.spec['slots']}]",
                          app_name=f"perfbench-{self.wl.name}", extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def out_dir(self) -> str:
        self.n_op += 1
        return os.path.join(self.work, "out", f"op{self.n_op}")

    def one(self, timed_fn=None, start: float | None = None
            ) -> tuple[float, bool]:
        """One operation and its check: (wall seconds, passed).
        ``timed_fn`` replaces the plain timer (the traced run); ``start``
        backdates the plain timer (the cold run includes reading the
        input)."""
        out = self.out_dir()
        self.attempted += 1
        timer = threading.Timer(OP_TIMEOUT_S,
                                self.spark.sparkContext.cancelAllJobs)
        timer.start()
        t = time.perf_counter() if start is None else start
        try:
            if timed_fn is None:
                self.wl.op(out)
                wall = time.perf_counter() - t
            else:
                wall = timed_fn(lambda: self.wl.op(out))
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            self.fail(f"operation {self.n_op} raised")
            return time.perf_counter() - t, False
        finally:
            timer.cancel()
        problems, dig = self.wl.check(out, self.oracle)
        if self.baseline is None:
            self.baseline = dig
        elif dig != self.baseline:
            problems.append("output digest differs from the cold run's")
        if problems:
            self.fail(f"operation {self.n_op}: " + "; ".join(problems))
        return wall, not problems

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        print("perfbench: " + msg, file=sys.stderr, flush=True)

    def clean(self) -> None:
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)

    def setup(self) -> dict:
        """Session start, reading the input and the cold operation (what
        a one-shot spark-submit pays), then the workload's fixed number
        of untimed warm-ups."""
        self.spark = self.session()
        ready = time.perf_counter() - T0
        t = time.perf_counter()
        self.wl.prepare(self.spark)
        cold, _ = self.one(start=t)
        self.clean()
        warm = []
        for _ in range(self.wl.warmups):
            warm.append(self.one()[0])
            self.clean()
        return {"session_s": ready, "cold_s": cold, "warmup_walls": warm}

    def loop(self, seconds: float) -> list[dict]:
        """The closed loop: operations back to back until ``seconds``
        have passed (at least one); per-operation wall, CPU of the
        process tree and host interference."""
        me = os.getpid()
        samples = []
        t_start = time.perf_counter()
        while not samples or time.perf_counter() - t_start < seconds:
            s0 = host.cpu_snapshot(me)
            wall, ok = self.one()
            s1 = host.cpu_snapshot(me)
            if ok:
                samples.append({"wall_s": wall,
                                **host.interference(s0, s1, wall)})
            elif not samples and time.perf_counter() - t_start >= seconds:
                break
            self.clean()
        return samples

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def run(self) -> dict:
        st = self.setup()
        mem = host.MemSampler(os.getpid())
        mem.start()
        samples = self.loop(self.spec["seconds"])
        mem.stop()
        res = {"attempted": self.attempted, "failed": self.failed,
               "problems": self.problems[:10],
               "samples": samples, "setup": st,
               "peak_pss_mb": mem.peak_bytes / 2**20,
               "docs": self.oracle["n_docs"]}
        if self.spec["trace"]:
            res["layers"] = self.traced(st, samples)
        else:
            self.spark.stop()
        return res

    def traced(self, st: dict, samples: list[dict]) -> dict:
        persisted_after = self.persisted()
        tracer = trace.Tracer(self.spark)
        tracer.install()
        try:
            wall, ok = self.one(timed_fn=tracer.run)
        finally:
            tracer.uninstall()
        out = os.path.join(self.work, "out", f"op{self.n_op}")
        counts = self.wl.layer_counts(out, tracer.spans) if ok else {}
        self.clean()
        kernel = trace.kernel_phases(self.wl.kernel_sample(self.spec["seed"]))
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        ev_path = os.path.join(self.work, "eventlog", app)
        with open(ev_path) as f:
            groups = trace.fold_event_log(f)
        return layer_metrics(
            tracer, groups, wall, st, samples,
            counts, kernel, persisted_after, self.spec["slots"])


def layer_metrics(tracer, groups, wall, st, samples,
                  counts, kernel, persisted_after, slots) -> dict:
    """Every per-layer metric of the traced run, by name."""
    spans = tracer.spans
    selfs = trace.layer_self(spans)
    g = lambda name: groups.get(name, trace.GroupStats())  # noqa: E731
    allg = list(groups.values())
    busy = sum(sum(x.task_durations) for x in allg)
    t0, t1 = tracer.window
    jobs_union = trace.union_length([(max(a, t0), min(b, t1))
                                     for x in allg for a, b in x.job_spans
                                     if min(b, t1) > max(a, t0)])
    untraced = (statistics.median(s["wall_s"] for s in samples)
                if samples else 0.0)
    ann = g("annotate")
    m = {
        "session.start_s": st["session_s"],
        "session.cold_run_s": st["cold_s"],
        "fanout.calls": sum(s.layer == "fanout" for s in spans),
        "fanout.self_s": selfs.get("fanout", 0.0),
        "kernel.sentences_per_s": kernel["kernel.sentences_per_s"],
    }
    for layer in ("ingest", "annotate", "linking", "cc", "materialize",
                  "dedup"):
        x = g(layer)
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
        m[f"{layer}.share"] = selfs.get(layer, 0.0) / wall if wall else 0.0
        m[f"{layer}.jobs"] = x.jobs
        m[f"{layer}.task_cpu_s"] = x.task_cpu_s
        m[f"{layer}.shuffle_mb"] = x.shuffle_mb
        m[f"{layer}.spill_mb"] = x.spill_mb
    ann_union = trace.union_length(ann.job_spans)
    kernel_s = counts.get("annotate.sentences", 0) / kernel[
        "kernel.sentences_per_s"]  # the stage's kernel compute
    m.update({
        "annotate.slot_util": (sum(ann.task_durations) / (slots * ann_union)
                               if ann_union else 0.0),
        "annotate.task_skew": trace.skew(ann.task_durations),
        "annotate.boundary_cpu_s": ann.task_cpu_s - kernel_s,
        "annotate.boundary_share": (1 - kernel_s / ann.task_cpu_s
                                    if ann.task_cpu_s else 0.0),
        "cc.checkpoints": tracer.checkpoints,
    })
    mat = [(s, t) for s, t in zip(spans, trace.self_times(spans))
           if s.layer == "materialize"]
    m.update({
        "materialize.build_graph_s": sum(s.end - s.start for s, _ in mat
                                         if s.name == "build_graph"),
        "materialize.write_s": sum(t for s, t in mat
                                   if s.name.startswith("write:")
                                   and s.name not in ("write:nodes",
                                                      "write:manifest")),
        "materialize.nodes_rebuild_s": sum(t for s, t in mat
                                           if s.name == "write:nodes"),
        "materialize.manifest_s": sum(
            t for s, t in mat if s.name in ("write:manifest",
                                            "input_fingerprint",
                                            "done_buckets")),
        "dedup.signature_s": sum(s.end - s.start for s in spans
                                 if s.name == "_signatures_from_shingles"),
        "dedup.lsh_s": sum(s.end - s.start for s in spans
                           if s.name == "lsh_pairs_from_signatures"),
        "dedup.jaccard_s": sum(s.end - s.start for s in spans
                               if s.name == "jaccard_pairs"),
    })
    m.update(kernel)
    m.update(counts)
    m.update({
        "run.jobs": sum(x.jobs for x in allg),
        "run.stages": sum(x.stages for x in allg),
        "run.tasks": sum(x.tasks for x in allg),
        "run.driver_s": max(0.0, (t1 - t0) - jobs_union),
        "run.slot_util": busy / (slots * wall) if wall else 0.0,
        "run.shuffle_mb": sum(x.shuffle_mb for x in allg),
        "run.spill_mb": sum(x.spill_mb for x in allg),
        "run.gc_s": sum(x.gc_s for x in allg),
        "run.persisted_after": persisted_after,
        "trace.wall_s": wall,
        "trace.coverage": trace.coverage(spans, wall) if wall else 0.0,
        "trace.overhead_s": wall - untraced,
        "host.steal_cores": statistics.median(
            s["steal_cores"] for s in samples) if samples else 0.0,
        "host.ext_cores": statistics.median(
            s["ext_cores"] for s in samples) if samples else 0.0,
    })
    return m


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    res = Runner(spec).run()
    with open(spec["result"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
