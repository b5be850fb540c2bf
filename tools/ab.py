#!/usr/bin/env python3
"""Interleaved A/B and per-layer profile of any gate list.

    python3 tools/ab.py --gates NAMES|headline|extras [--sf DIR]
                        [--arm CHECKOUT|duckdb]... [--pairs N]

An arm is a checkout (a dir holding ``__spark_entry__.py``) or ``duckdb``;
the first arm given is the baseline A, and with none the one arm is this
checkout. A conf or code experiment is a checkout with that one edit.

Every run of an arm is a fresh child process. A checkout child runs
perfbench's closed loop (``perfbench/run.py``: ``Engine``, ``Runner``) over
the gates: set-up, a cold pass, then two warm passes; each gate is built,
materialized with the noop sink and its storage released, and its time is
corrected for the CPU time the host stole. A ``duckdb`` child times the
gates' oracle SQL with ``bench.duckdb_timings`` three times, the first
being its cold pass. A pair runs every arm once; pairs alternate the order
of the arms, so all arms sample the same minutes of host load. After the
pairs, one traced child per checkout (``perfbench/tracing.py``) gives each
gate's per-layer split for its cold and its last warm pass.

Verdict of each later arm B against A, per gate, on ``warm_s`` (the median
of a child's warm passes) and on ``cold_s``: ``faster`` or ``slower`` only
when B wins at least 9 of every 10 pairs run, ties counting for neither
side, and the medians differ by more than A's interquartile range;
otherwise, and always with fewer than 10 pairs, ``unresolved``.

Children work under one temp dir, removed at exit; a failed child is
recorded with its stderr tail. The last stdout line is the JSON record.
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
import tempfile

TOOLS = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(TOOLS)
PERFBENCH = os.path.join(ROOT, "perfbench")
MIN_PAIRS = 10
WARM_PASSES = 2
CHILD_TIMEOUT_S = 3600
STDERR_TAIL = 3000
KEYS = ("warm_s", "cold_s")
CHILD = ("import sys; sys.path.insert(0, {!r}); import ab; "
         "ab.child(*sys.argv[1:])").format(TOOLS)


def verdict(a: list, b: list) -> str:
    """B's verdict against baseline A over paired times (lower is better;
    None marks a failed run, which wins its pair for neither side)."""
    a_ok = [x for x in a if x is not None]
    b_ok = [y for y in b if y is not None]
    if len(a) < MIN_PAIRS or len(a_ok) < 2 or not b_ok:
        return "unresolved"
    pairs = [(x, y) for x, y in zip(a, b) if x is not None and y is not None]
    q1, _, q3 = statistics.quantiles(a_ok, n=4)
    gap = statistics.median(b_ok) - statistics.median(a_ok)
    if 10 * sum(y < x for x, y in pairs) >= 9 * len(a) and -gap > q3 - q1:
        return "faster"
    if 10 * sum(y > x for x, y in pairs) >= 9 * len(a) and gap > q3 - q1:
        return "slower"
    return "unresolved"


def child(arm: str, sf: str, gates: str, trace: str, work: str) -> None:
    """One run of one arm, in this fresh process: prints its JSON record."""
    names = gates.split(",")
    if arm == "duckdb":
        sys.path.insert(0, ROOT)
        import bench

        runs = [bench.duckdb_timings(names, sf) for _ in range(1 + WARM_PASSES)]
        print(json.dumps({"attempted": len(names) * len(runs),
                          "failed": sum(v is None for r in runs for v in r.values()),
                          "gates": {g: times([r[g] for r in runs]) for g in names}}))
        return
    sys.path.insert(0, PERFBENCH)
    from run import Engine, Runner, layer_metrics, prepare_env
    from tracing import Tracer
    from workloads import Item, Workload

    prepare_env(work)
    sys.path.insert(0, arm)  # ahead of this checkout: the arm's engine runs
    tracer = Tracer() if trace == "1" else None
    engine = Engine(sf, work, tracer)
    try:
        if tracer is not None:
            tracer.attach(engine.spark)
        cores = engine.spark.sparkContext.defaultParallelism
        w = Workload("adhoc", (), tuple(Item(g, "gate", ()) for g in names))
        runner = Runner(engine, w, {"star": sf, "out": os.path.join(work, "out")},
                        tracer)
        passes = [runner.run_pass() for _ in range(1 + WARM_PASSES)]
    finally:
        engine.stop()
    rec = {"setup_s": engine.times["setup_s"], "attempted": runner.attempted,
           "failed": runner.failed,
           "errors": [e[-STDERR_TAIL:] for e in runner.errors], "gates": {}}
    for i, g in enumerate(names):
        items = [p["items"][i] for p in passes]
        rec["gates"][g] = times([r.get("time_s") for r in items])
        if tracer is not None:
            rec["gates"][g]["layers"] = {
                k: layer_metrics({"items": [r], "wall_s": r["wall_s"]}, cores, 0.0)
                for k, r in (("cold", items[0]), ("warm", items[-1]))}
    print(json.dumps(rec))


def times(per_pass: list) -> dict:
    """A gate's cold time and median warm time from its per-pass times."""
    warm = per_pass[1:]
    return {"cold_s": per_pass[0], "warm_s": None if None in warm else median(warm)}


def median(xs: list) -> float | None:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def spawn(arm: str, sf: str, gates: list, trace: int, work: str) -> dict:
    """Run one arm in a fresh child process working in ``work``; its record."""
    os.makedirs(work)
    proc = subprocess.Popen(
        [sys.executable, "-c", CHILD, arm, sf, ",".join(gates), str(trace), work],
        cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True)  # its JVM and Python workers share its group
    try:
        out, err = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except BaseException as exc:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        out, err = proc.communicate()
        if not isinstance(exc, subprocess.TimeoutExpired):
            raise
        err += f"\nkilled after {CHILD_TIMEOUT_S} s"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        return json.loads(out.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        n = len(gates) * (1 + WARM_PASSES)
        return {"attempted": n, "failed": n, "returncode": proc.returncode,
                "stderr": err[-STDERR_TAIL:]}


def gate_times(runs: list, gate: str, key: str) -> list:
    return [r.get("gates", {}).get(gate, {}).get(key) for r in runs]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--gates", required=True,
                    help="comma-separated gate names, or headline / extras")
    ap.add_argument("--sf", default="/root/testdata/sf0.1", metavar="DIR",
                    help="parquet dir the gates read (default %(default)s)")
    ap.add_argument("--arm", action="append", default=[],
                    help="a checkout dir or duckdb; repeatable, first is A")
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import bench

    gates = {"headline": bench.HEADLINE, "extras": bench.EXTRAS}.get(
        args.gates) or [g for g in args.gates.split(",") if g]
    arms = [a if a == "duckdb" else os.path.abspath(a) for a in args.arm] or [ROOT]
    for a in arms:
        if a != "duckdb" and not os.path.isfile(os.path.join(a, "__spark_entry__.py")):
            ap.error(f"--arm {a}: not a checkout (no __spark_entry__.py)")
    if len(set(arms)) < len(arms):
        ap.error("each --arm may be given once")
    if not os.path.isdir(args.sf) or args.pairs < 1:
        ap.error("--sf must be a dir and --pairs at least 1")

    top = tempfile.mkdtemp(prefix="bqetl_ab_")
    runs: dict[str, list] = {a: [] for a in arms}
    try:
        for i in range(args.pairs):
            order = arms if i % 2 == 0 else arms[::-1]
            for a in order:
                rec = spawn(a, args.sf, gates, 0, os.path.join(top, f"p{i}-{arms.index(a)}"))
                runs[a].append(rec)
                print(f"pair {i} {a}: failed {rec['failed']} " + " ".join(
                    f"{g}={v.get('cold_s')}/{v.get('warm_s')}"
                    for g, v in rec.get("gates", {}).items()), flush=True)
        trace = {a: spawn(a, args.sf, gates, 1, os.path.join(top, f"t-{arms.index(a)}"))
                 for a in arms if a != "duckdb"}
    finally:
        shutil.rmtree(top, ignore_errors=True)

    base = arms[0]
    medians = {a: {g: {k: median(gate_times(runs[a], g, k)) for k in KEYS}
                   for g in gates} for a in arms}
    verdicts = {b: {g: {k: verdict(gate_times(runs[base], g, k),
                                   gate_times(runs[b], g, k)) for k in KEYS}
                    for g in gates} for b in arms[1:]}
    print(json.dumps({
        "gates": gates, "sf": args.sf, "arms": arms, "baseline": base,
        "pairs": args.pairs, **{k: sum(r[k] for rs in runs.values() for r in rs)
                                for k in ("attempted", "failed")},
        "medians": medians, "verdicts": verdicts, "runs": runs, "trace": trace}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
