"""Repository benchmark: end-to-end and per-layer timings of the PySpark
engine on seeded workloads.

    python3 perfbench/run.py --workload anagram_corpus --seed 1 --seconds 6 --trace 0

Run from the repository root. Each run generates its inputs from the
seed, starts fresh processes for the engine, checks every output, and
prints a table followed by one JSON line (the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md). Everything a run writes goes under
``.perfbench_work/`` in the repository and is removed when it ends.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# min_warm_passes is set so that the warm passes outlast the run's
# --seconds, which keeps the number of latency samples the same from run
# to run.
WORKLOADS = {
    "anagram_corpus": {"words": 1_000_000, "files": 8, "min_warm_passes": 4},
    "catalog": {"scale": 1.0, "min_warm_passes": 5},
}
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]
# Fresh processes timed to engine ready, the run's own included; setup_s is
# their median. Each costs a Spark start (5-11 s on 4 cores), and a run has
# to stay short enough to be repeated dozens of times per comparison.
SETUP_SAMPLES = 2
CHILD_TIMEOUT_S = 150
END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "query_p50_s": "s",
                    "query_tail_s": "s"}
# Printed in the table but kept out of the JSON line. query_tail_s needs
# more than ten warm samples to be a percentile at all; at the run length
# the time budget allows it is the maximum of four samples (anagram_corpus)
# or the 60th percentile of 25 (catalog), so it adds no bound that
# warm_s and query_p50_s do not already set.
UNGATED = ("query_tail_s",)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# child processes
# ---------------------------------------------------------------------------


def child_env(work: str) -> dict:
    """The engine runs with the repository on PYTHONPATH (Python workers
    import the package too) and every scratch location inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Wait until every process of the child's session has ended (the
    Spark JVM and its Python workers outlive the child briefly); kill
    what is left after a grace period."""
    deadline = time.monotonic() + 15
    sig = 0
    while True:
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def run_child(cfg: dict, work: str, env: dict, tag: str, deadline: float) -> dict:
    """Run worker.py with `cfg` in a fresh process; return its result."""
    cfg_path = os.path.join(work, f"{tag}.json")
    cfg["result"] = os.path.join(work, f"{tag}.result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(work, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                                cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            stop_group(proc)
    if code != 0 or not os.path.exists(cfg["result"]):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"{tag} process failed ({code}):\n{tail}")
    with open(cfg["result"]) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# checks and metrics
# ---------------------------------------------------------------------------


def count_failures(workload: str, data_dir: str, files: list[str], result: dict) -> int:
    """Invocations that raised or whose output differs from the expected
    one: a pure-Python reference (anagram_corpus) or the DuckDB oracle."""
    if workload == "anagram_corpus":
        lines = checks.anagram_reference(files, result["stop_words"])
        expected = {"anagram_pipeline": checks.lines_fingerprint(lines)}
    else:
        expected = checks.oracle_fingerprints(data_dir, CATALOG_TABLES, result["oracles"])
    failed = 0
    for p in result["passes"]:
        for q in p["queries"]:
            want = tuple(expected[q["qid"]])
            if q["ok"] and (q["rows"], q["digest"]) == want:
                continue
            failed += 1
            why = q.get("error") or f"{q['rows']} rows, expected {want[0]} (or values differ)"
            print(f"FAILED {p['phase']} pass {p['index']} {q['qid']}: {why[:300]}",
                  file=sys.stderr)
    return failed


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it; with ten samples or fewer, the maximum."""
    s = sorted(samples)
    k = len(s) - 11 if len(s) > 10 else len(s) - 1
    return 100.0 * (k + 1) / len(s), s[k]


def untraced_warm(result: dict) -> list[dict]:
    return [p for p in result["passes"] if p["phase"] == "warm" and not p["traced"]]


def latencies(passes: list[dict]) -> list[float]:
    return [q["build_s"] + q["exec_s"] for p in passes for q in p["queries"]]


def end_to_end(result: dict, setups: list[float]) -> dict:
    warm = untraced_warm(result)
    lat = latencies(warm)
    return {
        "setup_s": median(setups),
        "cold_s": result["passes"][0]["wall_s"],
        "warm_s": median([p["wall_s"] for p in warm]),
        "query_p50_s": median(lat),
        "query_tail_s": tail_percentile(lat)[1],
    }


def layer_metrics(result: dict) -> dict:
    """Per-layer metrics of a traced run: for the cold pass, and as the
    median over traced warm passes, the per-pass sums of each counter."""
    import sparkstats

    per_phase: dict[str, list[dict]] = {"cold": [], "warm": []}
    for p in result["passes"]:
        if not p["traced"]:
            continue
        sums = dict.fromkeys(sparkstats.COUNTERS + ("operators.build_s", "sinks.write_s"), 0.0)
        counted = [q["counters"] for q in p["queries"] if q["counters"] is not None]
        for c in counted:
            for k, v in c.items():
                sums[k] += v
        jobless = sum(c["operators.build_jobs"] == 0 for c in counted)
        sums["operators.jobless_build_ratio"] = jobless / len(counted) if counted else 0.0
        sums["storage.persisted_mb"] = p["persisted_mb"]
        selfs = sparkstats.self_times(result["spans"], p["span"])
        for layer, v in selfs.items():
            sums[f"self.{layer}_s"] = v
        wall = sum(selfs.values())
        sums["self.unattributed_share"] = (selfs["action"] + selfs["bench"]) / wall if wall else 0.0
        per_phase[p["phase"]].append(sums)
    out = {"session.get_spark_s": result["setup"]["session.get_spark_s"],
           "registry.load_s": result["setup"]["registry.load_s"],
           "jvm.peak_rss_mb": result["peak_rss_mb"]}
    for phase, rows in per_phase.items():
        for k in rows[0]:
            out[f"{phase}.{k}"] = median([r[k] for r in rows])
    traced = [p["wall_s"] for p in result["passes"] if p["phase"] == "warm" and p["traced"]]
    out["trace.overhead_s"] = median(traced) - median([p["wall_s"] for p in untraced_warm(result)])
    return out


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                         ("_ratio", "ratio"), ("_share", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def print_table(result: dict, e2e: dict, failed: int, attempted: int) -> None:
    warm = untraced_warm(result)
    lat = latencies(warm)
    pct, _ = tail_percentile(lat)
    print(f"warm passes {len(warm)}  warm query samples {len(lat)}")
    for name, value in e2e.items():
        note = f"  (p{pct:.1f} of {len(lat)} samples)" if name == "query_tail_s" else ""
        print(f"  {name:<14} {value:12.4f} {END_TO_END_UNITS[name]}{note}")
    # Printed but kept out of the JSON line: the JVM's peak RSS follows its
    # heap sizing and spreads too widely between runs to hold a bound, and
    # failed_frac is 0 on a healthy run (the JSON line carries both counts).
    print(f"  {'peak_rss_mb':<14} {result['peak_rss_mb']:12.4f} MB")
    print(f"  {'failed_frac':<14} {failed / attempted:12.4f} ({failed} of {attempted} invocations)")
    print(f"  {'query':<28} {'cold build_s':>12} {'cold exec_s':>12} {'warm p50_s':>11}")
    for q in result["passes"][0]["queries"]:
        qlat = [w["build_s"] + w["exec_s"] for p in warm for w in p["queries"] if w["qid"] == q["qid"]]
        print(f"  {q['qid']:<28} {q['build_s']:12.3f} {q['exec_s']:12.3f} {median(qlat):11.3f}")


# ---------------------------------------------------------------------------


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced run's spans to this JSON file")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cc_mapreducer_spark", "__init__.py")):
        fail(f"package cc_mapreducer_spark not found under {ROOT}")
    spec = WORKLOADS[args.workload]
    clock = [("start", time.monotonic())]
    deadline = clock[0][1] + CHILD_TIMEOUT_S

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        data_dir = os.path.join(work, "data")
        if args.workload == "anagram_corpus":
            files = gen.write_text_corpus(data_dir, args.seed, spec["words"], spec["files"])
        else:
            files = gen.write_catalog_tables(data_dir, args.seed, spec["scale"])
        inputs_digest = gen.digest_files(files)
        clock.append(("generate", time.monotonic()))

        env = child_env(work)
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "min_warm_passes": spec["min_warm_passes"], "trace": args.trace,
               "data_dir": data_dir, "out_dir": os.path.join(work, "out")}
        setups = []
        if not args.trace:
            for i in range(SETUP_SAMPLES - 1):
                child = run_child(dict(cfg, mode="setup"), work, env, f"setup{i}", deadline)
                setups.append(child["setup"]["setup_s"])
        clock.append(("setup processes", time.monotonic()))
        result = run_child(dict(cfg, mode="run"), work, env, "run", deadline)
        setups.append(result["setup"]["setup_s"])
        clock.append(("run process", time.monotonic()))

        failed = count_failures(args.workload, data_dir, files, result)
        attempted = sum(len(p["queries"]) for p in result["passes"])
        clock.append(("checks", time.monotonic()))

        print(f"workload {args.workload}  seed {args.seed}  inputs sha256 {inputs_digest}")
        print("run phases  " + "  ".join(f"{name} {t - t0:.1f}s" for (_, t0), (name, t)
                                         in zip(clock, clock[1:])))
        print(f"setup samples {' '.join('%.3f' % s for s in setups)}")
        e2e = end_to_end(result, setups)
        print_table(result, e2e, failed, attempted)
        if args.trace:
            metrics = layer_metrics(result)
            for name, value in metrics.items():
                print(f"  {name:<40} {value:14.4f}")
            if args.spans_out:
                with open(args.spans_out, "w") as f:
                    json.dump(result["spans"], f)
            out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
        else:
            out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()
                   if k not in UNGATED}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    main()
