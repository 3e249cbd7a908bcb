"""Benchmark harness.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric", "value" (total wall sec), "unit": "sec",
"queries": {name: sec}, "sf", plus docs/sec for the KG pipeline}.

Scaling mode (`python bench.py --scaling`): run the identical KG job at
local[N] and local[4N] (SPARK_GRAFT_SCALE_PAIR, default "8,32") in
fresh subprocesses pinned to exactly N / 4N hardware cores, on the same
input; append the measurement to BENCH/scaling_runs.json — the sandbox
stand-in for the N->4N executor scaling rule (no real cluster here;
parallelism is the controlled variable).  BENCH/BASELINE.md narrates
the accumulated record.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _sf_from_dir(d: str) -> float:
    import re
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else -1.0


def _kg_pipeline(spark, sf_dir: str):
    """The flagship job: documents -> annotate -> triples -> link ->
    CC -> canonical edges; returns (n_docs, n_edges)."""
    from __spark_entry__ import _alias_names
    from phonlp_spark.pipeline.annotate import annotate_sentences_df
    from phonlp_spark.pipeline.ingest import (
        interleave_documents, split_sentences)
    from phonlp_spark.pipeline.linking import build_alias_dict
    from phonlp_spark.pipeline.materialize import build_graph

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = interleave_documents(flat)
    # salt to one partition per core: the input parquet is a single
    # split, and the kernel stage must fan out (skew rule)
    nslots = spark.sparkContext.defaultParallelism
    annotated = annotate_sentences_df(split_sentences(docs),
                                      salt_partitions=nslots * 2,
                                      columns=("mentions", "triples"))
    graph = build_graph(
        annotated,
        lambda mentions: build_alias_dict(spark, _alias_names(mentions)))
    n_edges = graph.edges.count()
    n_docs = flat.count()
    graph.release()
    return n_docs, n_edges


def _env_int(name: str, default: int) -> int:
    """Integer env knob: the env value, when set, is used DIRECTLY (an
    override, not a floor) and validated up front so a typo fails the
    suite at start, not mid-measurement."""
    v = os.environ.get(name)
    if v is None:
        return default
    try:
        return int(v)
    except ValueError:
        raise SystemExit(f"{name} must be an integer, got {v!r}")


N_BENCH_RUNS = _env_int("SPARK_GRAFT_BENCH_RUNS", 3)
N_KG_RUNS = _env_int("SPARK_GRAFT_KG_RUNS", 5)


def _timed(fn):
    """Run fn() with the interference telemetry the scaling harness
    records (VERDICT r5 next-round #2): returns (result, run record)
    where the record carries wall seconds plus the per-channel core
    averages of _cpu_snapshot and the pre-registered rule-v2 clean
    mark (in-VM external AND hypervisor steal each <= 1.0 cores) —
    so a regression on untouched queries is attributable to the host,
    or not, from the BENCH record alone."""
    clk = os.sysconf("SC_CLK_TCK")
    busy0, steal0, io0, own0 = _cpu_snapshot(os.getpid())
    t0 = time.time()
    out = fn()
    wall = max(time.time() - t0, 1e-6)
    busy1, steal1, io1, own1 = _cpu_snapshot(os.getpid())
    own = (own1 - own0) / clk / wall
    ext = max(0.0, (busy1 - busy0) / clk / wall - own)
    steal = (steal1 - steal0) / clk / wall
    rec = {"wall_sec": round(wall, 3), "own_cores": round(own, 2),
           "ext_cores": round(ext, 2), "steal_cores": round(steal, 2),
           "iowait_cores": round((io1 - io0) / clk / wall, 2)}
    rec["clean"] = (rec["ext_cores"] <= EXT_CORES_CLEAN
                    and rec["steal_cores"] <= STEAL_CORES_CLEAN)
    return out, rec


def _min_clean(recs: list[dict]) -> tuple[float, bool]:
    """(reported seconds, clean flag): min over CLEAN runs when any
    run is clean, else min over all runs flagged contaminated."""
    clean = [r["wall_sec"] for r in recs if r["clean"]]
    if clean:
        return min(clean), True
    return min(r["wall_sec"] for r in recs), False


def run_suite(master: str, sf_dir: str) -> dict:
    """Per-query wall time = warm MIN of N_BENCH_RUNS executions (same
    methodology as the scaling harness): this host's wall clock jitters
    ±40% between identical cold runs, so a single-shot number is noise,
    not signal (the r2 verdict's kg_components 1.7->5.4s "regression"
    was exactly that).  Raw runs ride along under "runs"."""
    from phonlp_spark.pipeline.session import get_spark

    spark = get_spark(master=master, app_name="phonlp_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    headline = ["kg_sentences", "kg_vocab", "dedup_lsh_pairs", "dedup_jaccard",
                "dedup_lsh_verified",
                "ann_cosine_topk", "text_profile", "tpch_pricing",
                "tpch_top_customers", "events_hourly", "kg_components"]
    times: dict[str, float] = {}
    clean_marks: dict[str, bool] = {}
    telem: dict[str, list[dict]] = {}

    # one UNTIMED warmup: the first run after session start pays
    # python-worker spawn + lazy guest-memory faulting + page-cache
    # fill for every later query — measuring it as "warm run 1" is what
    # made r3's kg series span 67/48/27 s (VERDICT r3 #3)
    _kg_pipeline(spark, sf_dir)
    kg_recs, kg_out = [], (0, 0)
    for _ in range(N_KG_RUNS):
        kg_out, rec = _timed(lambda: _kg_pipeline(spark, sf_dir))
        kg_recs.append(rec)
    n_docs, n_edges = kg_out
    telem["kg_pipeline_e2e"] = kg_recs
    times["kg_pipeline_e2e"], clean_marks["kg_pipeline_e2e"] = \
        _min_clean(kg_recs)
    docs_per_sec = round(n_docs / times["kg_pipeline_e2e"], 2)

    for name in headline:
        recs = []
        for _ in range(N_BENCH_RUNS):
            def one(q=qs[name]):
                q(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
            _, rec = _timed(one)
            recs.append(rec)
        telem[name] = recs
        times[name], clean_marks[name] = _min_clean(recs)

    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "runs": {n: [r["wall_sec"] for r in rs] for n, rs in telem.items()},
        "telemetry": telem,
        "clean": clean_marks,
        # the pre-registered rule-v2 verdict for the whole suite wall:
        # comparable round-over-round only when every query's reported
        # min comes from a clean run
        "suite_clean": all(clean_marks.values()),
        "ext_cores_clean_threshold": EXT_CORES_CLEAN,
        "steal_cores_clean_threshold": STEAL_CORES_CLEAN,
        "bench_runs": N_BENCH_RUNS,
        "sf": _sf_from_dir(sf_dir),
        "kg_docs": n_docs,
        "kg_edges": n_edges,
        "kg_docs_per_sec": docs_per_sec,
        "master": master,
    }

    # first-class big-input KG headline (VERDICT r4 #6): the sf0.1
    # pipeline (5k docs, ~7 s) is fixed-cost-dominated, so round-over-
    # round throughput is tracked in the regime the 100-TB design point
    # describes — the 320k-doc scaling input.  Kept OUT of "value"
    # (the sf0.1 suite wall) so that number stays comparable across
    # rounds.  Skip with SPARK_GRAFT_SKIP_BIG=1 for quick iterations.
    if not _env_int("SPARK_GRAFT_SKIP_BIG", 0):
        big_docs = _env_int("SPARK_GRAFT_BIG_DOCS", 320000)
        _ensure_scale_input(big_docs, spark=spark)  # synth untimed
        # untimed steady-state warms (rule v2, VERDICT r5 #6): the
        # 32-thread level's wall keeps falling for several runs after
        # the session's first big-input pass (r5 recorded 323->131->96
        # still falling), so the timed series must start at plateau
        for _ in range(_env_int("SPARK_GRAFT_BIG_WARMS", 2)):
            _scaling_job(spark, big_docs)
        big_recs, big_edges = [], 0
        n_base = _env_int("SPARK_GRAFT_BIG_RUNS", 3)
        n_max = _env_int("SPARK_GRAFT_BIG_RUNS_MAX", 6)
        while True:
            (_nd, big_edges), rec = _timed(
                lambda: _scaling_job(spark, big_docs))
            big_recs.append(rec)
            walls = [r["wall_sec"] for r in big_recs]
            if len(walls) >= n_base:
                # plateau rule: extend while the series is still
                # falling >10% below everything before it (guarded for
                # SPARK_GRAFT_BIG_RUNS=1, where walls[:-1] is empty —
                # ADVICE r6)
                still_falling = (len(walls) >= 2
                                 and walls[-1] < 0.9 * min(walls[:-1]))
                if not still_falling or len(walls) >= n_max:
                    break
        walls = [r["wall_sec"] for r in big_recs]
        out["kg_big_docs"] = big_docs
        out["kg_big_runs"] = walls
        out["kg_big_telemetry"] = big_recs
        out["kg_big_wall_sec"], out["kg_big_clean"] = _min_clean(big_recs)
        out["kg_big_plateau"] = (
            abs(walls[-1] - walls[-2]) <= 0.1 * min(walls[-1], walls[-2])
            if len(walls) >= 2 else False)
        out["kg_big_docs_per_sec"] = round(
            big_docs / out["kg_big_wall_sec"], 2)
        out["kg_big_edges"] = big_edges

    spark.stop()
    return out


SCALE_DOCS = _env_int("SPARK_GRAFT_SCALE_DOCS", 320000)


def _scale_path(n_docs: int) -> str:
    return f"/tmp/phonlp_scale_docs_{n_docs}.parquet"


def _ensure_scale_input(n_docs: int | None = None, spark=None) -> str:
    """Deterministic interleaved documents table for the scaling runs
    (FIXTURES.md synthesizer, seed 42) — written once, read by both
    parallelism levels.  Sized so the annotation kernel dominates the
    fixed per-job costs; sf0.1's 5000 docs are overhead-bound.

    ``spark``: reuse an existing session (getOrCreate would return the
    caller's session anyway, and stopping it here would kill the
    caller's suite mid-run)."""
    n_docs = SCALE_DOCS if n_docs is None else n_docs
    path = _scale_path(n_docs)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from phonlp_spark.pipeline.ingest import synth_documents
    from phonlp_spark.pipeline.session import get_spark

    own = spark is None
    if own:
        spark = get_spark(master="local[8]", app_name="phonlp_scale_synth")
        spark.sparkContext.setLogLevel("ERROR")
    synth_documents(spark, n_docs, seed=42).repartition(32) \
        .write.mode("overwrite").parquet(path)
    if own:
        spark.stop()
    return path


def _scaling_job(spark, n_docs: int | None = None) -> tuple[int, int]:
    """The flagship KG job on the synthesized interleaved table, with a
    fixture alias dictionary (no data-derived collects — every job in
    here is pipeline work, not measurement scaffolding)."""
    from phonlp_spark.pipeline.annotate import annotate_sentences_df
    from phonlp_spark.pipeline.ingest import _seeded_names, split_sentences
    from phonlp_spark.pipeline.linking import build_alias_dict
    from phonlp_spark.pipeline.materialize import build_graph

    n_docs = SCALE_DOCS if n_docs is None else n_docs
    docs = spark.read.parquet(_ensure_scale_input(n_docs, spark=spark))
    n = spark.sparkContext.defaultParallelism
    # only the mention/triple stream crosses the Arrow boundary: the
    # token-level arrays are never built (pruning can't cross Python)
    annotated = annotate_sentences_df(split_sentences(docs),
                                      salt_partitions=2 * n,
                                      columns=("mentions", "triples"))
    graph = build_graph(annotated,
                        build_alias_dict(spark, _seeded_names(40, 43)))
    n_edges = graph.edges.count()
    graph.release()
    return n_docs, n_edges


N_WARMS = int(os.environ.get("SPARK_GRAFT_SCALE_WARMS", "3"))


def _scaling_child(master: str, sf_dir: str) -> dict:
    """Run the KG pipeline 1+N_WARMS times in this process; report
    cold + warm.

    The warm minimum is the scaling-rule measurement: production
    executors are long-lived, and this sandbox's guest memory is lazily
    faulted (first-touch ~1ms/page, serialized host-side), so a cold
    run measures the hypervisor's fault path — which scales with worker
    COUNT — instead of the engine.
    """
    from phonlp_spark.pipeline.session import get_spark

    spark = get_spark(master=master, app_name="phonlp_spark_scaling")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    n_docs, n_edges = _scaling_job(spark)
    cold = time.time() - t0
    warms = []
    for _ in range(N_WARMS):
        t0 = time.time()
        n_docs, n_edges2 = _scaling_job(spark)
        warms.append(time.time() - t0)
        assert n_edges == n_edges2
    spark.stop()
    warm = min(warms)  # min-of-N: this host's wall clock is noisy
    return {"master": master, "wall_sec": round(warm, 3),
            "warm_runs": [round(w, 3) for w in warms],
            "cold_wall_sec": round(cold, 3), "docs": n_docs,
            "edges": n_edges, "docs_per_sec": round(n_docs / warm, 2)}


def _pin_prefix(n_cores: int) -> list[str]:
    """Confine a child to exactly n_cores hardware cores.

    This is the experimental control that makes local[N] vs local[4N]
    a faithful stand-in for N vs 4N executors: an N-executor cluster
    owns exactly N executors' worth of cores (JVM shuffle/GC threads
    included), but an UNPINNED local[N] run on a 4N-core host borrows
    the idle 3N cores for its JVM threads and per-core turbo headroom —
    inflating the small configuration and understating true scaling.
    """
    import shutil
    if shutil.which("taskset"):
        return ["taskset", "-c", f"0-{n_cores - 1}"]
    return []


SCALE_PAIR = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_PAIR", "8,32").split(","))
RUNS_JSON = "BENCH/scaling_runs.json"


def run_scaling(sf_dir: str) -> None:
    """Run the identical KG job at N and 4N pinned cores; append the
    measurement to BENCH/scaling_runs.json and print one JSON line.
    BENCH/BASELINE.md narrates the accumulated record by hand."""
    _ensure_scale_input()
    lo, hi = SCALE_PAIR
    assert hi == 4 * lo, "north rule compares N to 4N"
    results = []
    for n in (lo, hi):
        p = subprocess.run(
            _pin_prefix(n)
            + [sys.executable, __file__, "--scaling-child", f"local[{n}]", sf_dir],
            capture_output=True, text=True, check=True)
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
        results.append(json.loads(line))
    r_lo, r_hi = results
    eff = (r_hi["docs_per_sec"] / r_lo["docs_per_sec"]) / 4.0
    assert r_lo["edges"] == r_hi["edges"]  # output parity across sizes
    os.makedirs("BENCH", exist_ok=True)
    record = {"pair": [lo, hi], "docs": SCALE_DOCS, "warms": N_WARMS,
              "pinned": bool(_pin_prefix(lo)),
              "efficiency": round(eff, 3), "runs": results}
    try:
        with open(RUNS_JSON) as f:
            log = json.load(f)
    except FileNotFoundError:
        log = []
    log.append(record)
    with open(RUNS_JSON, "w") as f:
        json.dump(log, f, indent=1)
    print(json.dumps(record))



def _cpu_snapshot(root_pid: int) -> tuple[int, int, int, int]:
    """(vm_busy_ticks, steal_ticks, iowait_ticks, own_tree_ticks).

    This sandbox is a microVM: other tenants live on the HOST, outside
    our /proc, so in-VM process accounting alone cannot see them.  The
    split separates the three interference channels:
      * vm_busy  = user+nice+system+irq+softirq — CPU actually executed
        by THIS VM; minus own_tree it is in-VM external work;
      * steal    = ticks the hypervisor ran someone else while our
        vCPUs were runnable — the direct host-interference signal;
      * iowait   = in-VM IO stalls (page-cache refaults etc.).
    own_tree = utime+stime summed over root_pid and every live
    descendant (the Spark JVM and its reused pyspark.daemon workers
    are persistent children, so a start/end delta captures their
    work).  Processes of ours that exit mid-run lose their ticks from
    the end snapshot, inflating the external estimate — conservative
    (over-reports contamination, never hides it)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    vals = [int(x) for x in cpu[1:]]
    vm_busy = vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
    steal = vals[7] if len(vals) > 7 else 0
    iowait = vals[4]

    procs: dict[int, tuple[int, int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # comm field may contain spaces/parens: split after last ')'
        rest = st[st.rfind(")") + 2:].split()
        procs[int(ent)] = (int(rest[1]), int(rest[11]) + int(rest[12]))

    desc = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in desc and pid not in desc:
                desc.add(pid)
                grew = True
    own = sum(t for pid, (_, t) in procs.items() if pid in desc)
    return vm_busy, steal, iowait, own


_PROBE_BUFS = None


def _dram_probe_gbps() -> float:
    """Single-threaded STREAM-style add (a = b + c) over 64 MiB float64
    arrays — far past L3, so the best-of-5 rate measures the DRAM
    bandwidth available to ONE of our pinned cores right now.

    Third interference channel (rule v3): a co-tenant saturating the
    HOST's memory controllers slows our vCPUs without taking their
    cycles, so it is invisible to both ext_cores (in-VM accounting)
    and steal_cores (hypervisor scheduling) — session 7 measured a
    rule-v2-clean hi wall 55% above the same session's plateau at
    0.31 steal cores.  The probe is relative, not absolute: the clean
    rule keys off the session's own maximum (contention only ever
    LOWERS the rate).  Buffers persist across calls so page-faulting
    the 192 MiB is paid once, not per probe."""
    import numpy as np
    global _PROBE_BUFS
    n = 8 * 1024 * 1024
    if _PROBE_BUFS is None:
        _PROBE_BUFS = (np.empty(n), np.ones(n), np.ones(n))
        np.add(_PROBE_BUFS[1], _PROBE_BUFS[2], out=_PROBE_BUFS[0])
    a, b, c = _PROBE_BUFS
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        np.add(b, c, out=a)
        best = min(best, time.perf_counter() - t0)
    return round(24.0 * n / best / 1e9, 2)


def _scaling_server(master: str) -> None:
    """Child REPL for the interleaved protocol: ONE pinned long-lived
    session; 'RUN' on stdin runs the full KG job once and prints a
    'RESULT {json}' line; 'QUIT' exits.  Keeping the session alive
    across commands is what makes every commanded run warm — the
    driver alternates RUN commands between the two levels' servers.

    Each RESULT carries ext_cores / own_cores: average cores burned
    during the run by other host tenants vs by this server's own
    process tree (see _cpu_snapshot) — the driver's pre-registered
    contamination rule (BENCH/BASELINE.md) keys off ext_cores — plus
    dram_gbps: the min of the one-core bandwidth probe taken
    immediately before and after the run (rule v3)."""
    from phonlp_spark.pipeline.session import get_spark

    clk = os.sysconf("SC_CLK_TCK")
    spark = get_spark(master=master, app_name="phonlp_spark_scaling")
    spark.sparkContext.setLogLevel("ERROR")
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "QUIT":
            break
        if cmd != "RUN":
            continue
        gbps_pre = _dram_probe_gbps()
        busy0, steal0, io0, own0 = _cpu_snapshot(os.getpid())
        t0 = time.time()
        n_docs, n_edges = _scaling_job(spark)
        wall = time.time() - t0
        busy1, steal1, io1, own1 = _cpu_snapshot(os.getpid())
        gbps_post = _dram_probe_gbps()
        own_sec = (own1 - own0) / clk
        ext_sec = max(0.0, (busy1 - busy0) / clk - own_sec)
        print("RESULT " + json.dumps({
            "wall_sec": round(wall, 3),
            "docs": n_docs, "edges": n_edges,
            "own_cores": round(own_sec / wall, 2),
            "ext_cores": round(ext_sec / wall, 2),
            "steal_cores": round((steal1 - steal0) / clk / wall, 2),
            "iowait_cores": round((io1 - io0) / clk / wall, 2),
            "dram_gbps": min(gbps_pre, gbps_post),
            "dram_gbps_pre": gbps_pre, "dram_gbps_post": gbps_post}),
            flush=True)
    spark.stop()


N_ROUNDS = _env_int("SPARK_GRAFT_SCALE_ROUNDS", 3)
HI_RUNS_PER_ROUND = _env_int("SPARK_GRAFT_SCALE_HI_RUNS", 2)
# Pre-registered contamination thresholds (BENCH/BASELINE.md): a run
# is contaminated when in-VM external processes (ext) OR the
# hypervisor's steal time averaged more than this many cores during
# it; contaminated runs are excluded from the clean-pair statistics.
EXT_CORES_CLEAN = float(os.environ.get("SPARK_GRAFT_EXT_CORES_CLEAN", "1.0"))
STEAL_CORES_CLEAN = float(
    os.environ.get("SPARK_GRAFT_STEAL_CORES_CLEAN", "1.0"))
# Untimed steady-state warm runs per level after the cold run: the
# 32-thread level needs several runs before its wall plateaus (32
# python workers each pay first-task numpy import + kernel build,
# JIT/GC/page-cache settle) — measured drift across rounds in every
# pre-warm session: hi minima 245->201, 279->106, 331->125.  Applied
# to BOTH levels identically.  Own env name: SPARK_GRAFT_SCALE_WARMS
# configures the BLOCK protocol's timed warms (N_WARMS above) and the
# two used to silently share one knob with different defaults.
SCALE_WARMS = _env_int("SPARK_GRAFT_INTERLEAVED_WARMS", 2)
# Rule v3 (pre-registered before session 9; BENCH/BASELINE.md): a run
# is dram-clean iff its one-core bandwidth probe (min of pre/post,
# see _dram_probe_gbps) is >= this fraction of the SESSION's maximum
# probe at the same level.  Relative, because contention only ever
# lowers the rate — the session max approximates the quiet host.
DRAM_CLEAN_FRAC = float(os.environ.get("SPARK_GRAFT_DRAM_CLEAN_FRAC", "0.85"))


def run_scaling_interleaved(sf_dir: str) -> None:
    """Noise-robust form of the N -> 4N scaling evidence (VERDICT r4
    next-round #1).

    The block protocol (run_scaling: all-N then all-4N) is exposed to
    host drift BETWEEN the blocks: this sandbox's shared host adds
    bursty interference that hits the 4N level's short walls hardest
    (measured 76% spread at local[32] vs 17% at local[8] across
    sessions).  Here both pinned sessions stay alive and the levels run
    ALTERNATELY — N, 4N, 4N, N, 4N, 4N, ... — so a slow host window
    lands on adjacent runs of BOTH levels and cancels in the PAIRED
    ratio; the 4N level gets HI_RUNS_PER_ROUND runs per round (its
    spread is ~4x the N level's, so it needs more draws per pair).
    Only one server computes at any instant (the driver serializes RUN
    commands), so the two sessions never contend for cores.

    Reported: every pair's efficiency, the best and median pair, and
    the session-min ratio (min over all N walls vs min over all 4N
    walls — the old protocol's statistic, for continuity)."""
    import statistics

    _ensure_scale_input()
    lo, hi = SCALE_PAIR
    assert hi == 4 * lo, "north rule compares N to 4N"

    def spawn(n):
        return subprocess.Popen(
            _pin_prefix(n)
            + [sys.executable, __file__, "--scaling-server", f"local[{n}]"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, bufsize=1)

    def run_once(p):
        p.stdin.write("RUN\n")
        p.stdin.flush()
        for line in p.stdout:
            if line.startswith("RESULT "):
                return json.loads(line[len("RESULT "):])
        raise RuntimeError("scaling server exited without a RESULT")

    p_lo, p_hi = spawn(lo), spawn(hi)
    try:
        cold_lo, cold_hi = run_once(p_lo), run_once(p_hi)
        assert cold_lo["edges"] == cold_hi["edges"]  # output parity
        # untimed steady-state warms (see SCALE_WARMS): both levels,
        # alternating so neither level's warm-up window is privileged
        warm_walls = {"lo": [], "hi": []}
        probes = {"lo": [g for g in [cold_lo.get("dram_gbps")] if g],
                  "hi": [g for g in [cold_hi.get("dram_gbps")] if g]}
        for _ in range(SCALE_WARMS):
            for lvl, p in (("lo", p_lo), ("hi", p_hi)):
                r = run_once(p)
                warm_walls[lvl].append(r["wall_sec"])
                if "dram_gbps" in r:
                    probes[lvl].append(r["dram_gbps"])
        pairs, lo_walls, hi_walls = [], [], []
        for i in range(N_ROUNDS):
            r_lo = run_once(p_lo)
            r_his = [run_once(p_hi) for _ in range(HI_RUNS_PER_ROUND)]
            assert all(r["edges"] == r_lo["edges"] for r in r_his)
            t_lo = r_lo["wall_sec"]
            t_hi = min(r["wall_sec"] for r in r_his)
            pair = {
                "round": i, "lo_wall": t_lo,
                "hi_walls": [r["wall_sec"] for r in r_his],
                "efficiency": round(t_lo / (4.0 * t_hi), 3)}
            # Interference telemetry + the pre-registered contamination
            # rule (BENCH/BASELINE.md): a run is clean iff in-VM
            # external processes AND hypervisor steal each averaged
            # <= 1.0 cores during it; a pair is clean iff its lo run is
            # clean and >= 1 hi run is clean, and the clean efficiency
            # uses min over CLEAN hi walls only.  Older records
            # (sessions 1-3) predate ext_cores.
            def _is_clean(r):
                return (r["ext_cores"] <= EXT_CORES_CLEAN
                        and r.get("steal_cores", 0.0) <= STEAL_CORES_CLEAN)

            if "ext_cores" in r_lo:
                pair["lo_ext_cores"] = r_lo["ext_cores"]
                pair["hi_ext_cores"] = [r["ext_cores"] for r in r_his]
                pair["lo_steal_cores"] = r_lo.get("steal_cores")
                pair["hi_steal_cores"] = [r.get("steal_cores")
                                          for r in r_his]
                clean_his = [r["wall_sec"] for r in r_his if _is_clean(r)]
                pair["clean"] = _is_clean(r_lo) and bool(clean_his)
                if pair["clean"]:
                    pair["clean_efficiency"] = round(
                        t_lo / (4.0 * min(clean_his)), 3)
            if "dram_gbps" in r_lo:
                # rule-v3 inputs; the dram-clean marks need the whole
                # session's probes and are computed after the loop
                pair["lo_dram_gbps"] = r_lo["dram_gbps"]
                pair["hi_dram_gbps"] = [r["dram_gbps"] for r in r_his]
                pair["_lo_v2"] = _is_clean(r_lo)
                pair["_hi_v2"] = [_is_clean(r) for r in r_his]
                probes["lo"].append(r_lo["dram_gbps"])
                probes["hi"].extend(r["dram_gbps"] for r in r_his)
            pairs.append(pair)
            lo_walls.append(t_lo)
            hi_walls.extend(r["wall_sec"] for r in r_his)
            print(json.dumps({"progress": pairs[-1]}), file=sys.stderr)
    finally:
        for p in (p_lo, p_hi):
            try:
                p.stdin.write("QUIT\n")
                p.stdin.flush()
            except Exception:
                pass
        p_lo.wait(timeout=120)
        p_hi.wait(timeout=120)

    effs = [p["efficiency"] for p in pairs]
    docs = cold_lo["docs"]
    record = {
        "mode": "interleaved", "pair": [lo, hi], "docs": docs,
        "rounds": N_ROUNDS, "hi_runs_per_round": HI_RUNS_PER_ROUND,
        "pinned": bool(_pin_prefix(lo)),
        "cold_walls": {"lo": cold_lo["wall_sec"], "hi": cold_hi["wall_sec"]},
        "warm_walls": warm_walls,
        "pairs": pairs,
        "best_pair_efficiency": max(effs),
        "median_pair_efficiency": round(statistics.median(effs), 3),
        "session_min_efficiency": round(
            min(lo_walls) / (4.0 * min(hi_walls)), 3),
        "lo_docs_per_sec": round(docs / min(lo_walls), 2),
        "hi_docs_per_sec": round(docs / min(hi_walls), 2),
        "edges": cold_lo["edges"],
    }
    # conservative within-session statistic (VERDICT r6 #2): fastest
    # clean lo wall vs fastest clean hi wall across the WHOLE session,
    # immune to one pair's slow-lo inflation (session 9's best pair
    # rode the session's slowest lo)
    def _v2ok_lo(p):
        return (p.get("lo_ext_cores") is not None
                and p["lo_ext_cores"] <= EXT_CORES_CLEAN
                and (p.get("lo_steal_cores") or 0.0) <= STEAL_CORES_CLEAN)

    def _v2ok_hi_walls(p):
        return [w for w, e, st in zip(p["hi_walls"],
                                      p.get("hi_ext_cores", []),
                                      p.get("hi_steal_cores", []))
                if e is not None and e <= EXT_CORES_CLEAN
                and (st or 0.0) <= STEAL_CORES_CLEAN]

    lo_clean = [p["lo_wall"] for p in pairs if _v2ok_lo(p)]
    hi_clean = [w for p in pairs for w in _v2ok_hi_walls(p)]
    if lo_clean and hi_clean:
        record["conservative_clean_efficiency"] = round(
            min(lo_clean) / (4.0 * min(hi_clean)), 3)

    clean_effs = [p["clean_efficiency"] for p in pairs
                  if p.get("clean")]
    if any("clean" in p for p in pairs):
        record["ext_cores_clean_threshold"] = EXT_CORES_CLEAN
        record["clean_pairs"] = len(clean_effs)
        if len(clean_effs) >= 2:
            record["clean_median_efficiency"] = round(
                statistics.median(clean_effs), 3)
        else:
            # < 2 clean pairs: the session says nothing about the
            # engine either way (pre-registered VOID rule)
            record["session_void"] = True
    # Rule v3 = rule v2 AND the DRAM probe within DRAM_CLEAN_FRAC of
    # the session's per-level max (see _dram_probe_gbps); marks are
    # computable only now that every probe of the session is in.
    v3_pairs = [p for p in pairs if "lo_dram_gbps" in p]
    if v3_pairs:
        floor = {lvl: DRAM_CLEAN_FRAC * max(ps)
                 for lvl, ps in probes.items() if ps}
        clean_v3_effs = []
        for p in v3_pairs:
            lo_ok = p.pop("_lo_v2") and p["lo_dram_gbps"] >= floor["lo"]
            hi_v2 = p.pop("_hi_v2")
            ok_walls = [w for w, v2, g in zip(p["hi_walls"], hi_v2,
                                              p["hi_dram_gbps"])
                        if v2 and g >= floor["hi"]]
            p["clean_v3"] = lo_ok and bool(ok_walls)
            if p["clean_v3"]:
                p["clean_v3_efficiency"] = round(
                    p["lo_wall"] / (4.0 * min(ok_walls)), 3)
                clean_v3_effs.append(p["clean_v3_efficiency"])
        record["dram_clean_frac"] = DRAM_CLEAN_FRAC
        record["session_max_dram_gbps"] = {
            lvl: max(ps) for lvl, ps in probes.items() if ps}
        record["clean_v3_pairs"] = len(clean_v3_effs)
        if len(clean_v3_effs) >= 2:
            record["clean_v3_median_efficiency"] = round(
                statistics.median(clean_v3_effs), 3)
        else:
            record["session_void_v3"] = True
        # conservative statistic under rule v3 (same shape as above)
        lo_v3 = [p["lo_wall"] for p in v3_pairs
                 if _v2ok_lo(p) and p["lo_dram_gbps"] >= floor["lo"]]
        hi_v3 = [w for p in v3_pairs
                 for w, e, st, g in zip(p["hi_walls"],
                                        p.get("hi_ext_cores", []),
                                        p.get("hi_steal_cores", []),
                                        p["hi_dram_gbps"])
                 if e is not None and e <= EXT_CORES_CLEAN
                 and (st or 0.0) <= STEAL_CORES_CLEAN
                 and g >= floor["hi"]]
        if lo_v3 and hi_v3:
            record["conservative_clean_v3_efficiency"] = round(
                min(lo_v3) / (4.0 * min(hi_v3)), 3)
    os.makedirs("BENCH", exist_ok=True)
    try:
        with open(RUNS_JSON) as f:
            log = json.load(f)
    except FileNotFoundError:
        log = []
    log.append(record)
    with open(RUNS_JSON, "w") as f:
        json.dump(log, f, indent=1)
    print(json.dumps(record))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-child":
        print(json.dumps(_scaling_child(sys.argv[2], sys.argv[3])))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-server":
        _scaling_server(sys.argv[2])
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-interleaved":
        run_scaling_interleaved(sys.argv[2] if len(sys.argv) > 2 else SF_DIR)
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        run_scaling(sys.argv[2] if len(sys.argv) > 2 else SF_DIR)
    else:
        print(json.dumps(run_suite(f"local[{CPUS}]", SF_DIR)))
