"""One benchmark run inside a fresh process (started by ``run.py``).

The worker starts the Spark session, builds the workload's graph several
times (set-up), warms up with untimed capped calls, then runs passes of the
workload's operator calls until the measuring window ends.  Each operator
call is timed until its result is collected to the driver; results are
checked against the references after the pass.  Everything it measures goes
to one JSON file for ``run.py``.

A traced run makes one pass, traced: every layer boundary is a ledger span.
The spans are the operator call, its final action, and -- wrapped from here,
at the module attributes the operators call them through --
``superstep.run_supersteps``, ``superstep.truncate_lineage`` and the
checkpoint writer.  The k-core local finish also runs under Spark's ``perf``
UDF profiler there.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import pstats
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import numpy as np

import ledger as ledger_mod
import procstat
import reference

OP_TIMEOUT_S = 90.0  # an operator call slower than this counts as failed
SETUP_REPS = 3
PASS_BUDGET_S = 140.0  # no pass starts that would end after this much process time
# Supersteps per iterative call in the warm-up.  The first call of an operator
# in a fresh JVM spends more CPU in the JIT compiler threads than in its tasks,
# and that CPU competes for the host's few cores; the warm-up makes the JIT
# compile each call's code before any call is timed.  Capping each call at one
# superstep keeps the warm-up short (about 17 s on the dense graph).
WARMUP_ITERS = 1

# workload -> [(op name, reference key)]
OPS = {
    "dense": [
        ("pagerank", "pagerank"),
        ("components", "components"),
        ("kcore_fixpoint", "kcore"),
        ("kcore", "kcore"),
        ("triangles", "triangles"),
    ],
    "sparse_resume": [
        ("pagerank_ckpt", "pagerank4"),
        ("pagerank_resume", "pagerank8"),
    ],
}

# operator modules whose run_supersteps / truncate_lineage bindings a
# traced pass wraps
_OP_MODULES = ("pagerank", "components", "kcore", "triangles")


def _call(op: str, g, ctx: dict, cap: int | None = None):
    """Call one operator; returns (result DataFrame, SuperstepStats | None).
    ``cap`` limits the supersteps of the iterative calls (warm-up)."""
    from tcr_kcore_spark import operators as O
    from tcr_kcore_spark.operators.triangles import triangles_per_vertex

    if op == "pagerank":
        return O.pagerank(
            g,
            tol=reference.PAGERANK_TOL,
            max_iter=cap or 100,
            truncate_every=reference.PAGERANK_CHECK_EVERY,
        )
    if op == "components":
        return O.connected_components(g, mode="hashmin", max_iter=cap or 200)
    if op == "kcore_fixpoint":
        return O.kcore(g, mode="hindex", max_iter=cap or 100_000, local_finish_vertices=0)
    if op == "kcore":
        return O.kcore(g)
    if op == "triangles":
        return triangles_per_vertex(g), None
    if op == "pagerank_ckpt":
        return O.pagerank(
            g, tol=-1.0, max_iter=cap or 4, checkpoint_dir=ctx["ckpt_dir"], checkpoint_every=2
        )
    if op == "pagerank_resume":
        return O.pagerank(
            g,
            tol=-1.0,
            max_iter=2 * cap if cap else 8,
            checkpoint_dir=ctx["ckpt_dir"],
            checkpoint_every=2,
            resume=True,
        )
    raise ValueError(op)


class Tracer:
    """Wraps the superstep layer's entry points for one traced pass and
    records what they return."""

    def __init__(self, led: ledger_mod.Ledger, spark):
        self.led = led
        self.spark = spark
        self.op = ""
        self.calls: list[dict] = []  # one per run_supersteps call
        self.cached_peak_mb = 0.0

    def _sample_cache(self) -> None:
        t = time.perf_counter()
        self.cached_peak_mb = max(self.cached_peak_mb, ledger_mod.cached_mb(self.spark))
        self.led.overhead_s += time.perf_counter() - t

    def _wrap_run(self, fn):
        def run_supersteps(*a, **kw):
            with self.led.span(f"{self.op}/supersteps"):
                state, stats = fn(*a, **kw)
            self.calls.append(
                {
                    "op": self.op,
                    "steps": stats.supersteps,
                    "history": list(stats.history),
                    "checkpoints": stats.checkpoints,
                    "resumed_from": stats.resumed_from,
                }
            )
            return state, stats

        return run_supersteps

    def _wrap_trunc(self, fn):
        def truncate_lineage(df):
            with self.led.span(f"{self.led.current or self.op}/truncate"):
                out = fn(df)
            self._sample_cache()
            return out

        return truncate_lineage

    def _wrap_ckpt(self, fn):
        def write_checkpoint(*a, **kw):
            with self.led.span(f"{self.led.current or self.op}/checkpoint"):
                return fn(*a, **kw)

        return write_checkpoint

    @contextmanager
    def patched(self):
        import tcr_kcore_spark.superstep as ss

        saved = []

        def patch(mod, name, wrapper):
            if hasattr(mod, name):
                saved.append((mod, name, getattr(mod, name)))
                setattr(mod, name, wrapper(getattr(mod, name)))

        patch(ss, "truncate_lineage", self._wrap_trunc)
        patch(ss, "_write_checkpoint", self._wrap_ckpt)
        for m in _OP_MODULES:
            mod = importlib.import_module(f"tcr_kcore_spark.operators.{m}")
            patch(mod, "run_supersteps", self._wrap_run)
            patch(mod, "truncate_lineage", self._wrap_trunc)
        try:
            yield
        finally:
            for mod, name, orig in reversed(saved):
                setattr(mod, name, orig)


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def _profile_python_s(spark, prof_dir: str) -> float:
    """Total Python time of the UDFs profiled since the last clear."""
    for f in glob.glob(os.path.join(prof_dir, "*")):
        os.remove(f)
    spark.profile.dump(prof_dir, type="perf")
    total = 0.0
    for f in glob.glob(os.path.join(prof_dir, "*.pstats")):
        total += pstats.Stats(f).total_tt
    spark.profile.clear(type="perf")
    return total


def _setup(spark, kind: str, inputs: dict, led: ledger_mod.Ledger, rep: int):
    """Read the source, build and cache the graph, count its vertices.
    Returns (graph, timing dict)."""
    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.sources import read_edgelist
    from tcr_kcore_spark.sources.relational import cooccurrence_edges

    t = {}
    w0 = time.perf_counter()
    with led.span(f"setup{rep}/sources") as sp:
        if kind == "sparse":
            g = read_edgelist(spark, inputs["edgelist"], directed=False)
        else:
            g = LinkGraph(cooccurrence_edges(spark, inputs["sf_dir"]), directed=False)
    t["read_s"] = sp.secs
    with led.span(f"setup{rep}/materialize") as sp:
        t["edges"] = g.materialize()
    t["materialize_s"] = sp.secs
    with led.span(f"setup{rep}/vertices") as sp:
        t["vertices"] = g.vertices().count()
    t["vertices_s"] = sp.secs
    t["wall_s"] = time.perf_counter() - w0
    t["cached_mb"] = ledger_mod.cached_mb(spark)
    return g, t


def _warm_up(workload: str, g, ctx: dict, led: ledger_mod.Ledger) -> None:
    """Run every call of the workload once, capped at WARMUP_ITERS
    supersteps; untimed and unchecked."""
    from tcr_kcore_spark.superstep import clear_checkpoints, release_state

    with led.span("warmup"):
        if workload == "sparse_resume":
            clear_checkpoints(ctx["ckpt_dir"])
        for op, _ in OPS[workload]:
            df, _ = _call(op, g, ctx, cap=WARMUP_ITERS)
            df.toArrow()
            release_state(df)


def _run_pass(spark, workload, g, ctx, led, tracer, prof_dir, out_tables):
    """One pass over the workload's operator calls.  Returns per-op rows."""
    from tcr_kcore_spark.superstep import clear_checkpoints, release_state

    rows = []
    if workload == "sparse_resume":
        clear_checkpoints(ctx["ckpt_dir"])
    for op, key in OPS[workload]:
        row = {"op": op, "ok": False}
        cache_before = ledger_mod.cached_mb(spark) if tracer else 0.0
        profile = tracer is not None and op == "kcore"
        span = led.span(f"op/{op}") if tracer else nullcontext()
        if tracer:
            tracer.op = f"op/{op}"
        if profile:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            with (tracer.patched() if tracer else nullcontext()), span:
                t0 = time.perf_counter()
                df, stats = _call(op, g, ctx)
                t1 = time.perf_counter()
                with led.span(f"op/{op}/final") if tracer else nullcontext():
                    table = df.toArrow()
                t2 = time.perf_counter()
            row.update(s=t2 - t0, final_s=t2 - t1)
            if stats is not None:
                row.update(
                    steps=stats.supersteps,
                    history=list(stats.history),
                    local_finish_s=stats.local_finish_secs,
                    resumed_from=stats.resumed_from,
                )
            release_state(df)
            out_tables.append((op, key, table, row))
            if tracer:
                row["cached_left_mb"] = ledger_mod.cached_mb(spark) - cache_before
            row["ok"] = row["s"] <= OP_TIMEOUT_S
            if not row["ok"]:
                row["error"] = f"timed out ({row['s']:.1f} s > {OP_TIMEOUT_S} s)"
        except Exception as exc:  # a failing operator is counted, not fatal
            row["error"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            traceback.print_exc()
        finally:
            if profile:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
        if profile and row["ok"]:
            t = time.perf_counter()
            row["python_s"] = _profile_python_s(spark, prof_dir)
            led.overhead_s += time.perf_counter() - t
        rows.append(row)
    return rows


def _check(tables, ref) -> None:
    """Compare each collected result with its reference (marks row['ok'])."""
    for op, key, table, row in tables:
        if not row["ok"]:
            continue
        reason = reference.check(ref, key, table)
        if reason is None and op == "pagerank_resume" and row.get("resumed_from") != 4:
            reason = f"resumed_from={row.get('resumed_from')}, expected 4"
        if reason is not None:
            row["ok"] = False
            row["error"] = f"mismatch: {reason}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="spawn time (time.time())")
    a = ap.parse_args()
    with open(a.inputs) as f:
        inputs = json.load(f)
    ref = dict(np.load(inputs["ref"]))
    kind = "sparse" if a.workload == "sparse_resume" else "dense"
    ctx = {"ckpt_dir": inputs["ckpt_dir"]}
    traced = bool(a.trace)

    import pyspark

    from tcr_kcore_spark.plans.partitioning import broadcast_max_rows
    from tcr_kcore_spark.session import get_spark

    conf = {
        **ledger_mod.RETAIN_CONF,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": inputs["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(inputs["work"], "warehouse"),
        # a fixed-size heap: no run-to-run variation from heap resizing
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -Djava.io.tmpdir={inputs['tmp']}"
        ),
    }
    ncores = os.cpu_count() or 1
    spark = get_spark(
        app_name=f"perfbench_{a.workload}",
        cores=inputs["cores"],
        shuffle_partitions=inputs["cores"],
        extra_conf=conf,
    )
    session_start_s = time.time() - a.t0
    led = ledger_mod.Ledger(spark, tag_jobs=traced)

    res: dict = {
        "session_start_s": session_start_s,
        "spark_version": pyspark.__version__,
        "cores": inputs["cores"],
        "nproc": ncores,
        "broadcast_max_rows": broadcast_max_rows(),
    }

    reps = []
    g = None
    for rep in range(SETUP_REPS):
        if g is not None:
            g.unpersist()
        g, t = _setup(spark, kind, inputs, led, rep)
        reps.append(t)
    res["setup_reps"] = reps
    res["bcast"] = int(reps[-1]["vertices"] <= broadcast_max_rows())
    setup_ok = reps[-1]["edges"] == 2 * int(ref["pairs_n"][0])
    res["setup_error"] = None if setup_ok else (
        f"graph has {reps[-1]['edges']} edge rows, reference {2 * int(ref['pairs_n'][0])}"
    )

    _warm_up(a.workload, g, ctx, led)
    # CPU of the worker, the JVM and the Python workers from process start
    res["warmup_cpu_s"] = procstat.tree_cpu_s(os.getpid())

    passes = []
    tables = []
    window_end = time.perf_counter() + a.seconds
    while True:
        tracer = Tracer(led, spark) if traced else None
        lo = led.max_stage_id()
        c0 = procstat.tree_cpu_s(os.getpid())
        w0 = time.perf_counter()
        rows = _run_pass(spark, a.workload, g, ctx, led, tracer, inputs["prof_dir"], tables)
        wall = time.perf_counter() - w0
        cpu = procstat.tree_cpu_s(os.getpid()) - c0
        p = {
            "traced": traced,
            "wall_s": wall,
            "cpu_s": cpu,
            "stage_lo": lo,
            "stage_hi": led.max_stage_id(),
            "ops": rows,
        }
        if traced:
            p["calls"] = tracer.calls
            p["cached_peak_mb"] = tracer.cached_peak_mb
            if a.workload == "sparse_resume":
                p["checkpoint_mb"] = _du_mb(ctx["ckpt_dir"])
        passes.append(p)
        _check(tables, ref)
        tables.clear()
        done = traced or time.perf_counter() >= window_end
        if done or time.time() - a.t0 + wall > PASS_BUDGET_S:
            break
    res["passes"] = passes

    # status store: every job retained, then per-pass shuffle and the ledger
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    res["jobs"] = led.check_retained()
    stages = led.stages()
    for p in passes:
        p["shuffle_mb"] = sum(
            s.shuffleWriteBytes()
            for s in stages
            if p["stage_lo"] < s.stageId() <= p["stage_hi"]
        ) / (1024.0 * 1024.0)
    if traced:
        res["spans"] = [
            {"name": s.name, "parent": s.parent, "secs": s.secs} for s in led.spans
        ]
        res["ledger"] = {k: vars(v) for k, v in led.rows().items()}
        res["trace_overhead_s"] = led.overhead_s
    spark.stop()
    with open(a.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    sys.exit(main())
