#!/usr/bin/env python3
"""KG-construction benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Generates the workload's input from the seed (cached under .perfbench/),
computes the oracle, then starts one measured process (worker.py) that
runs the workload as a closed loop on local[nproc] and checks every
output.  The last line of stdout is one JSON object: correct,
attempted, failed and the metrics, end-to-end with --trace 0 and
per-layer with --trace 1.  Exits non-zero without a result when the
program's sources are missing or another Spark JVM is running.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
RUN_DEADLINE_S = 170.0   # the whole invocation, launcher included
MAX_SLOTS = 4            # task slots: min(nproc, this)

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s", "cpu_s": "s",
    "peak_pss_mb": "MB",
}
# Per-layer metrics of the traced run.  Layer times that only one
# workload can have (annotate on kg_build, dedup on dedup_near) are
# reported as shares of the traced wall; the absolute seconds are on
# the detail line printed before the result.
PER_LAYER = {
    "session.start_s": "s", "session.cold_run_s": "s",
    "ingest.share": "fraction", "ingest.sentences": "count",
    "ingest.jobs": "count",
    "fanout.calls": "count", "fanout.self_s": "s",
    "annotate.share": "fraction", "annotate.sentences": "count",
    "annotate.slot_util": "fraction", "annotate.task_skew": "ratio",
    "annotate.shuffle_mb": "MB", "annotate.jobs": "count",
    "annotate.boundary_share": "fraction",
    "kernel.sentences_per_s": "sentences/s", "kernel.encode_s": "s",
    "kernel.viterbi_s": "s", "kernel.mst_s": "s", "kernel.mst_calls": "count",
    "kernel.bioes_s": "s", "kernel.triples_s": "s", "kernel.unmap_s": "s",
    "kernel.other_s": "s", "kernel.pad_ratio": "ratio",
    "kernel.mst_native": "count",
    "linking.share": "fraction", "linking.surfaces": "count",
    "linking.exact_hits": "count", "linking.exact_hit_ratio": "fraction",
    "linking.sim_scored": "count", "linking.sim_linked": "count",
    "linking.new_ids": "count", "linking.broadcast_mb": "MB",
    "linking.shuffle_mb": "MB", "linking.jobs": "count",
    "cc.share": "fraction", "cc.edges": "count", "cc.components": "count",
    "cc.distributed": "count", "cc.checkpoints": "count", "cc.jobs": "count",
    "materialize.share": "fraction", "materialize.written_mb": "MB",
    "materialize.files_written": "count", "materialize.buckets_done": "count",
    "materialize.buckets_skipped": "count", "materialize.jobs": "count",
    "dedup.share": "fraction", "dedup.shingle_rows": "count",
    "dedup.shingles_distinct": "count", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "fraction",
    "dedup.jaccard_pairs": "count", "dedup.shuffle_mb": "MB",
    "dedup.spill_mb": "MB", "dedup.jobs": "count",
    "run.jobs": "count", "run.stages": "count", "run.tasks": "count",
    "run.driver_s": "s", "run.slot_util": "fraction", "run.shuffle_mb": "MB",
    "run.spill_mb": "MB", "run.persisted_after": "count",
    "trace.coverage": "fraction", "trace.overhead_s": "s",
    "host.steal_cores": "cores", "host.ext_cores": "cores",
}


def die(msg: str, code: int) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def reap(marker: str, grace_s: float = 20.0) -> list[int]:
    """Wait for every process of this run to end; kill the stragglers.
    Returns the pids that had to be killed."""
    from perfbench import host

    tag = f"PERFBENCH_RUN={marker}".encode()
    deadline = time.monotonic() + grace_s
    while host.pids_with_env(tag) and time.monotonic() < deadline:
        time.sleep(0.2)
    killed = host.pids_with_env(tag)
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while host.pids_with_env(tag):
        time.sleep(0.1)
    return killed


def end_to_end(res: dict) -> dict[str, float]:
    s = res["samples"]
    wall = statistics.median(x["wall_s"] for x in s)
    return {
        "setup_s": res["setup"]["session_s"] + res["setup"]["cold_s"],
        "wall_s": wall,
        "docs_per_s": res["docs"] / wall,
        "cpu_s": statistics.median(x["cpu_s"] for x in s),
        "peak_pss_mb": res["peak_pss_mb"],
    }


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.gen import PARAMS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PARAMS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = time.monotonic()

    if not (os.path.isdir(os.path.join(ROOT, "phonlp_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        return die(f"program sources not found under {ROOT}", 2)
    from perfbench import gen, host
    jvms = host.spark_jvms()
    if jvms:
        return die(f"another Spark JVM is running (pids {jvms}); "
                   "refusing to measure beside it", 3)

    marker = uuid.uuid4().hex
    run_dir = os.path.join(WORK, f"run-{marker[:12]}")
    tmp = os.path.join(WORK, "tmp")  # kept: holds the compiled MST solver
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = tmp
    try:
        inputs = gen.generate(args.workload, args.seed,
                              os.path.join(WORK, "cache"))
        t_gen = time.monotonic()
        from perfbench.workloads import WORKLOADS
        oracle = WORKLOADS[args.workload](inputs).oracle()
        t_oracle = time.monotonic()
        spec = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "inputs": inputs,
            "oracle": oracle, "work": run_dir,
            "slots": min(os.cpu_count() or 1, MAX_SLOTS),
            "heap": host.driver_heap(),
            "result": os.path.join(run_dir, "result.json"),
        }
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        # spark-submit's launcher JVM reads SPARK_LAUNCHER_OPTS; like the
        # driver JVM it keeps its temporary files inside the checkout
        env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=tmp,
                   PERFBENCH_RUN=marker, OPENBLAS_NUM_THREADS="1",
                   OMP_NUM_THREADS="1",
                   SPARK_LAUNCHER_OPTS="-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
        remaining = RUN_DEADLINE_S - (time.monotonic() - t_start)
        try:
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
                 spec_path], env=env, stdout=sys.stderr, timeout=remaining)
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            rc = None
        t_worker = time.monotonic()
        if rc != 0 or not os.path.exists(spec["result"]):
            return die("the measured process "
                       + ("timed out" if rc is None else f"exited with {rc}"),
                       1)
        with open(spec["result"]) as f:
            res = json.load(f)
    finally:
        killed = reap(marker)
        if killed:
            print(f"perfbench: killed leftover processes {killed}",
                  file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)

    if not res["samples"]:
        return die(f"no operation succeeded: {res['problems']}", 1)
    if args.trace:
        layers = res["layers"]
        print("perfbench layers " + json.dumps(layers, sort_keys=True))
        # a count the workload's layers never produce (linking counts on
        # dedup_near, dedup counts on kg_build) is zero
        metrics = {k: {"value": layers.get(k, 0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        vals = end_to_end(res)
        metrics = {k: {"value": vals[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print("perfbench " + json.dumps({
        "workload": args.workload, "seed": args.seed,
        "samples": len(res["samples"]),
        "setup": res["setup"],
        "launcher_s": {"generate": t_gen - t_start,
                       "oracle": t_oracle - t_gen,
                       "worker": t_worker - t_oracle},
        "error_rate": res["failed"] / res["attempted"],
        "problems": res["problems"],
        "walls_s": [x["wall_s"] for x in res["samples"]],
        "steal_cores": [x["steal_cores"] for x in res["samples"]],
        "ext_cores": [x["ext_cores"] for x in res["samples"]],
    }))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
