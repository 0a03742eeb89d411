"""Time-to-solution benchmark of the link-graph engine.

    python3 perfbench/run.py --workload dense --seed 1 --seconds 15 --trace 0

Run from the repository root.  Workloads (see ``BENCHMARK.json``):

- ``dense``: part co-occurrence graph; PageRank to 1e-6, hashmin components,
  the distributed h-index k-core fixpoint, k-core through the one-task NumPy
  local finish and triangles per vertex.
- ``sparse_resume``: a Zipf-skewed text edge list above the broadcast cap;
  PageRank for 4 iterations with checkpoints, then resumed to 8.

The run generates its inputs from ``--seed`` (cached per seed under
``.perfbench_work/``), computes the references (cached the same way), and
starts a fresh worker process (``worker.py``) that owns the Spark session.
While the worker runs, this process samples the peak resident memory of the
worker's process tree.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the metrics are the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``.  Spark's log goes to ``.perfbench_work/logs/``.
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

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ledger  # noqa: E402
import procstat  # noqa: E402
import reference  # noqa: E402
import worker  # noqa: E402

DRIVER_MEMORY = "2g"  # explicit heap: the session default (16g) exceeds a 15 GB host
# vertex-state rows above which the superstep operators use the shuffle
# regime (the engine's SPARK_GRAFT_BROADCAST_MAX_ROWS); below the sparse
# graph's vertex count and far above the dense graph's
BROADCAST_MAX_ROWS = 50_000
RUN_DEADLINE_S = 170.0
LEFTOVER_WAIT_S = 20.0
# per-workload calls reported as their own end-to-end metrics
PAGERANK_OP = {"dense": "pagerank", "sparse_resume": "pagerank_ckpt"}
KEY_QUERY = {"dense": "kcore_fixpoint", "sparse_resume": "pagerank_resume"}
ALL_OPS = [op for ops in worker.OPS.values() for op, _ in ops]
_MB = 1024.0


def _fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _prepare(workload: str, seed: int, work: str) -> dict:
    """Generate the inputs and the references for (workload, seed)."""
    kind = "sparse" if workload == "sparse_resume" else "dense"
    tag = f"{kind}-{gen.params_tag(kind)}-{seed}"
    in_dir = os.path.join(work, "inputs", tag)
    # references are cached per input and per version of their code
    ref_tag = gen.file_sha256(reference.__file__)[:8]
    ref_path = os.path.join(work, "refs", f"{tag}-{ref_tag}.npz")
    inputs = {}
    if kind == "sparse":
        inputs["edgelist"] = gen.write_sparse_edgelist(seed, in_dir)
        src, dst = gen.sparse_edges(seed)
        inputs["rows"] = int(src.size)
    else:
        inputs["sf_dir"] = gen.write_lineitem(seed, in_dir)
        ok, pk = gen.lineitem_arrays(seed)
        inputs["rows"] = int(ok.size)
    if not os.path.exists(ref_path):
        pairs = (
            reference.undirected_pairs(src, dst)
            if kind == "sparse"
            else reference.cooccurrence_pairs(ok, pk)
        )
        os.makedirs(os.path.dirname(ref_path), exist_ok=True)
        tmp = ref_path + ".tmp.npz"
        np.savez(tmp, **reference.compute(workload, pairs))
        os.replace(tmp, ref_path)
    inputs["ref"] = ref_path
    return inputs


def _wait_no_spark_jvm() -> None:
    deadline = time.time() + LEFTOVER_WAIT_S
    while procstat.spark_jvms():
        if time.time() > deadline:
            _fail(f"leftover Spark JVM(s) running: {procstat.spark_jvms()}; refusing to start", 3)
        time.sleep(0.5)


def _stop_group(pgid: int) -> None:
    """Stop every live process of the worker's session and wait until all
    have ended."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None and procstat.group_members(pgid):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 10.0
        while procstat.group_members(pgid):
            if time.time() > end:
                break
            time.sleep(0.1)
        else:
            return
    _fail(f"processes of group {pgid} did not exit: {procstat.group_members(pgid)}", 6)


def _median(xs) -> float:
    return float(statistics.median(xs))


def _host_facts(res: dict, workload: str, seed: int, work: str, steal_s: float) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "workload": workload,
        "seed": seed,
        "nproc": res["nproc"],
        "cores": res["cores"],
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": res["spark_version"],
        "driver_memory": DRIVER_MEMORY,
        "local_dir": os.path.relpath(os.path.join(work, "spark-local"), ROOT),
        "broadcast_max_rows": res["broadcast_max_rows"],
        "jobs": res["jobs"],
        # CPU time taken by other tenants of the host during the run
        "steal_s": round(steal_s, 2),
    }


def _end_to_end(res: dict, workload: str, peak_rss_mb: float) -> dict:
    passes = res["passes"]
    rep_walls = [r["wall_s"] for r in res["setup_reps"]]

    def op_s(op: str) -> float:
        return _median([o.get("s", 0.0) for p in passes for o in p["ops"] if o["op"] == op])

    return {
        "setup_s": (res["session_start_s"] + _median(rep_walls), "s"),
        "solve_s": (_median([sum(o.get("s", 0.0) for o in p["ops"]) for p in passes]), "s"),
        "pagerank_s": (op_s(PAGERANK_OP[workload]), "s"),
        "query_s": (op_s(KEY_QUERY[workload]), "s"),
        # process start to the end of the warm-up, plus one pass
        "cpu_s": (res["warmup_cpu_s"] + _median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "shuffle_mb": (_median([p["shuffle_mb"] for p in passes]), "MB"),
    }


def _growth(history: list) -> float:
    """Median of the last quarter of a superstep history over the median of
    its second quarter."""
    n = len(history)
    if n < 4:
        return 1.0
    q = n // 4
    second = history[q : 2 * q]
    last = history[n - q :]
    base = _median(second)
    return _median(last) / base if base else 1.0


def _per_layer(res: dict, inputs: dict) -> dict:
    led = res["ledger"]
    spans = res["spans"]
    traced = res["passes"][0]

    def groups(prefix: str) -> dict:
        agg = {}
        for name, row in led.items():
            if name == prefix or name.startswith(prefix + "/"):
                for k, v in row.items():
                    agg[k] = agg.get(k, 0.0) + v
        return agg

    def span_secs(pred) -> float:
        return sum(s["secs"] for s in spans if pred(s["name"]))

    m: dict = {}
    # set-up layers, from the median set-up repetition
    reps = res["setup_reps"]
    mid = sorted(range(len(reps)), key=lambda i: reps[i]["wall_s"])[len(reps) // 2]
    r = reps[mid]
    g_mat, g_vert = groups(f"setup{mid}/materialize"), groups(f"setup{mid}/vertices")
    m["session.start_s"] = (res["session_start_s"], "s")
    m["graph.cold_build_s"] = (reps[0]["wall_s"], "s")
    m["sources.read_s"] = (r["read_s"], "s")
    m["sources.rows"] = (inputs["rows"], "count")
    m["graph.materialize_s"] = (r["materialize_s"], "s")
    m["graph.vertices_s"] = (r["vertices_s"], "s")
    m["graph.cached_mb"] = (r["cached_mb"], "MB")
    m["graph.shuffle_mb"] = (
        g_mat.get("shuffle_write_mb", 0.0) + g_vert.get("shuffle_write_mb", 0.0),
        "MB",
    )
    m["graph.exec_s"] = (
        g_mat.get("exec_s", 0.0) + g_vert.get("exec_s", 0.0)
        + groups(f"setup{mid}/sources").get("exec_s", 0.0),
        "s",
    )
    m["plans.bcast"] = (res["bcast"], "flag")

    # superstep layer, over the traced pass
    calls = traced.get("calls", [])
    hist = [h for c in calls for h in c["history"]]
    steps = sum(c["steps"] for c in calls)
    ss_rows = {}
    for name, row in led.items():
        if "/supersteps" in name:
            for k, v in row.items():
                ss_rows[k] = ss_rows.get(k, 0.0) + v
    op_s = {o["op"]: o.get("s", 0.0) for o in traced["ops"]}
    outside = sum(op_s[op] for op in {c["op"][3:] for c in calls}) - sum(hist)
    longest = max(calls, key=lambda c: len(c["history"]), default=None)
    per_step = (lambda x: x / steps) if steps else (lambda x: 0.0)
    m["superstep.steps"] = (steps, "count")
    m["superstep.step_p50_s"] = (_median(hist) if hist else 0.0, "s")
    m["superstep.step_max_s"] = (max(hist, default=0.0), "s")
    m["superstep.step_growth"] = (_growth(longest["history"]) if longest else 1.0, "ratio")
    m["superstep.truncate_s"] = (
        span_secs(lambda n: "/supersteps/" in n and n.endswith("/truncate")), "s"
    )
    m["superstep.outside_s"] = (outside if calls else 0.0, "s")
    m["superstep.jobs_per_step"] = (per_step(ss_rows.get("jobs", 0.0)), "count")
    m["superstep.exchanges_per_step"] = (per_step(ss_rows.get("exchanges", 0.0)), "count")
    m["superstep.shuffle_mb_per_step"] = (per_step(ss_rows.get("shuffle_write_mb", 0.0)), "MB")
    m["superstep.checkpoints"] = (sum(c["checkpoints"] for c in calls), "count")
    m["superstep.checkpoint_s"] = (span_secs(lambda n: n.endswith("/checkpoint")), "s")
    m["superstep.checkpoint_mb"] = (traced.get("checkpoint_mb", 0.0), "MB")
    m["superstep.cached_peak_mb"] = (traced.get("cached_peak_mb", 0.0), "MB")
    m["superstep.cached_left_mb"] = (
        sum(o.get("cached_left_mb", 0.0) for o in traced["ops"]), "MB"
    )

    # Arrow/NumPy kernel: the k-core local finish
    kc = next((o for o in traced["ops"] if o["op"] == "kcore"), {})
    lf = kc.get("local_finish_s", 0.0)
    py = kc.get("python_s", 0.0)
    rows_in = int(np.load(inputs["ref"])["pairs_n"][0]) if kc else 0
    m["kernel.local_finish_s"] = (lf, "s")
    m["kernel.python_s"] = (py, "s")
    m["kernel.transfer_s"] = (lf - py if kc else 0.0, "s")
    m["kernel.rows_in"] = (rows_in, "count")
    m["kernel.bytes_in"] = (rows_in * 16, "B")

    # operators
    for op in ALL_OPS:
        o = next((o for o in traced["ops"] if o["op"] == op), None)
        g = groups(f"op/{op}") if o else {}
        med = g.get("task_median_s", 0.0)
        m[f"operators.{op}.s"] = (o.get("s", 0.0) if o else 0.0, "s")
        m[f"operators.{op}.final_s"] = (o.get("final_s", 0.0) if o else 0.0, "s")
        m[f"operators.{op}.jobs"] = (g.get("jobs", 0.0), "count")
        m[f"operators.{op}.exec_s"] = (g.get("exec_s", 0.0), "s")
        m[f"operators.{op}.gc_s"] = (g.get("gc_s", 0.0), "s")
        m[f"operators.{op}.shuffle_mb"] = (g.get("shuffle_write_mb", 0.0), "MB")
        m[f"operators.{op}.spill_mb"] = (g.get("spill_mb", 0.0), "MB")
        m[f"operators.{op}.task_skew"] = (g.get("task_max_s", 0.0) / med if med else 0.0, "ratio")

    # the trace itself: overhead, coverage and attribution
    # coverage: the share of a parent's wall time its layer spans explain,
    # lowest over the set-up builds and over the operator calls
    m["trace.overhead_s"] = (res["trace_overhead_s"], "s")
    m["trace.setup_coverage"] = (
        min(
            span_secs(lambda n, i=i: n.startswith(f"setup{i}/")) / rep["wall_s"]
            for i, rep in enumerate(reps)
        ),
        "ratio",
    )
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["secs"]
    m["trace.solve_coverage"] = (
        min(
            children.get(s["name"], 0.0) / s["secs"]
            for s in spans
            if s["parent"] is None and s["name"].startswith("op/")
        ),
        "ratio",
    )
    total_exec = sum(row["exec_s"] for row in led.values())
    named = total_exec - led.get(ledger.UNATTRIBUTED, {}).get("exec_s", 0.0)
    m["ledger.attributed_frac"] = (named / total_exec if total_exec else 1.0, "ratio")
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(worker.OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "tcr_kcore_spark", "__init__.py")):
        _fail(f"no tcr_kcore_spark package under {ROOT}; run from the repository root", 2)
    _wait_no_spark_jvm()

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    ckpt_dir = os.path.join(run_dir, "ckpt")
    dirs = {
        "local_dir": os.path.join(work, "spark-local"),
        "tmp": os.path.join(work, "tmp"),
        "prof_dir": os.path.join(run_dir, "profile"),
        "logs": os.path.join(work, "logs"),
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    inputs = _prepare(a.workload, a.seed, work)
    # Spark task threads: half the cores, so that the driver's planning, JIT
    # compiler and GC threads run beside the tasks instead of queueing for a
    # core; a run that asks for more cores than it has measures the host's
    # scheduler more than the program
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    inputs.update(dirs, work=work, ckpt_dir=ckpt_dir, cores=cores)
    in_path = os.path.join(run_dir, "inputs.json")
    out_path = os.path.join(run_dir, "result.json")
    with open(in_path, "w") as f:
        json.dump(inputs, f)
    if os.path.exists(out_path):
        os.remove(out_path)

    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=dirs["local_dir"],
        SPARK_GRAFT_BROADCAST_MAX_ROWS=str(BROADCAST_MAX_ROWS),
        TMPDIR=dirs["tmp"],
        # no JVM perf-data files, which the JVM writes under /tmp
        JAVA_TOOL_OPTIONS=" ".join(
            o for o in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o
        ),
    )
    log_path = os.path.join(dirs["logs"], f"{a.workload}-{a.seed}-t{a.trace}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--inputs", in_path, "--out", out_path, "--t0", repr(time.time()),
    ]
    hwm: dict = {}
    steal0 = procstat.steal_s()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            while proc.poll() is None:
                for k, kb in procstat.tree_hwm_kb(proc.pid).items():
                    hwm[k] = max(hwm.get(k, 0), kb)
                if time.time() - t_start > RUN_DEADLINE_S:
                    break
                time.sleep(0.5)
        finally:
            timed_out = proc.poll() is None
            if timed_out:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            _stop_group(proc.pid)
    steal = procstat.steal_s() - steal0
    if timed_out:
        _fail(f"run exceeded {RUN_DEADLINE_S:.0f} s; see {log_path}", 4)
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        _fail(f"worker failed (exit {proc.returncode}); log {log_path}:\n{tail}", 5)

    with open(out_path) as f:
        res = json.load(f)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    ops = [o for p in res["passes"] for o in p["ops"]]
    failed = [o for o in ops if not o["ok"]]
    attempted = len(ops) + 1  # the set-up graph is checked too
    if res["setup_error"]:
        failed.append({"op": "setup", "error": res["setup_error"]})
    peak_rss_mb = sum(hwm.values()) / _MB
    rss_by_name: dict = {}
    for (_, _, name), kb in hwm.items():
        rss_by_name[name] = rss_by_name.get(name, 0.0) + kb / _MB
    if a.trace:
        metrics = _per_layer(res, inputs)
        metrics["failed_ops_frac"] = (len(failed) / attempted, "ratio")
    else:
        metrics = _end_to_end(res, a.workload, peak_rss_mb)

    facts = _host_facts(res, a.workload, a.seed, work, steal)
    for o in failed:
        print(f"FAILED {o['op']}: {o.get('error')}")
    print("host " + json.dumps(facts))
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    out = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({"host": facts, "peak_rss_mb_by_process": rss_by_name, **out}, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
