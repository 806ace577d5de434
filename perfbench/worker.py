"""One fresh benchmark process: ``python3 worker.py <config.json>``.

Config keys: mode ("setup" or "run"), workload, seed, seconds,
min_warm_passes (at least 2), trace, data_dir, out_dir, result (path
this process writes its JSON result to).

Mode "setup" times the package import, session start and registry load,
and exits. Mode "run" also runs the workload: one cold pass (every query
built and executed once), then warm passes (every query rebuilt by name
and executed again) until `seconds` have passed and at least
min_warm_passes ran. With trace on, the cold pass and every other warm
pass run under the tracer; the untraced warm passes give the tracing
overhead.
"""

from __future__ import annotations

import json
import sys
import time
from typing import Any


def setup() -> tuple[Any, dict, dict]:
    """Import the package, start the session and load the registry."""
    t0, e0 = time.perf_counter(), time.time()
    from cc_mapreducer_spark import registry, session

    spark = session.get_spark()
    t1, e1 = time.perf_counter(), time.time()
    queries = registry.all_queries()
    t2, e2 = time.perf_counter(), time.time()
    return spark, queries, {"setup_s": t2 - t0, "session.get_spark_s": t1 - t0,
                            "registry.load_s": t2 - t1, "epochs": [e0, e1, e2]}


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM the session runs in."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def invoke(q, tracer, parent: int | None) -> tuple[dict, Any]:
    """Build and execute one query; returns its record and the output."""
    rec = {"qid": q.name, "ok": True, "build_s": 0.0, "exec_s": 0.0, "counters": None}
    out = None
    span = tracer.open("query", parent, q.name) if tracer else None
    t0 = time.perf_counter()
    try:
        if tracer:
            df, c_build = tracer.call("operators.build", span["id"], q.name, q.build)
            t1 = time.perf_counter()
            out, c_act = tracer.call(q.action_span, span["id"], q.name,
                                     lambda: q.action(df), plan_df=lambda res: res[0])
            t2 = time.perf_counter()
            rec["counters"] = {k: c_build[k] + c_act[k] for k in c_act}
            rec["counters"]["operators.build_jobs"] = c_build["scheduler.jobs"]
            rec["counters"]["operators.build_s"] = t1 - t0
            rec["counters"]["sinks.write_s"] = (t2 - t1) if q.action_span == "sinks.write" else 0.0
        else:
            df = q.build()
            t1 = time.perf_counter()
            out = q.action(df)
            t2 = time.perf_counter()
        rec["build_s"], rec["exec_s"] = t1 - t0, t2 - t1
    except Exception as ex:  # a failing query is counted, not dropped
        rec["ok"] = False
        rec["error"] = f"{type(ex).__name__}: {str(ex)[:2000]}"
        rec["exec_s"] = time.perf_counter() - t0
    finally:
        if tracer:
            tracer.close(span)
    return rec, out


def run_pass(queries, tracer, phase: str, index: int) -> dict:
    span = tracer.open("pass", None, None) if tracer else None
    records = []
    for q in queries:
        rec, out = invoke(q, tracer, span["id"] if span else None)
        if rec["ok"]:
            try:  # outside the timed region
                rec["rows"], rec["digest"] = q.fingerprint(out)
            except Exception as ex:
                rec["ok"], rec["error"] = False, f"fingerprint: {type(ex).__name__}: {ex}"
        records.append(rec)
    result = {"phase": phase, "index": index, "traced": tracer is not None,
              "wall_s": sum(r["build_s"] + r["exec_s"] for r in records),
              "queries": records}
    if tracer:
        tracer.close(span)
        result["span"] = span["id"]
        result["persisted_mb"] = tracer.persisted_mb()
    return result


def run(cfg: dict, spark, queries: dict, setup_times: dict) -> dict:
    import workloads

    if cfg["workload"] == "catalog":
        from cc_mapreducer_spark import registry

        qs = workloads.catalog(spark, queries, cfg["data_dir"], cfg["seed"])
        oracles = registry.all_oracles()
        extra = {"oracles": {q.name: oracles[q.name] for q in qs}}
    else:
        from cc_mapreducer_spark.functions.text import STOP_WORDS

        qs = workloads.anagram_corpus(spark, cfg["data_dir"], cfg["out_dir"])
        extra = {"stop_words": list(STOP_WORDS)}
    tracer = None
    if cfg["trace"]:
        import sparkstats

        tracer = sparkstats.Tracer(spark)
        e0, e1, e2 = setup_times["epochs"]
        tracer.add_span("session.get_spark", e0, e1, None, None)
        tracer.add_span("registry.all_queries", e1, e2, None, None)
    passes = [run_pass(qs, tracer, "cold", 0)]
    start = time.perf_counter()
    i = 0
    while i < cfg["min_warm_passes"] or time.perf_counter() - start < cfg["seconds"]:
        i += 1
        passes.append(run_pass(qs, tracer if i % 2 == 0 else None, "warm", i))
    extra["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    extra["passes"] = passes
    if tracer:
        extra["spans"] = tracer.spans
    return extra


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    spark, queries, setup_times = setup()
    try:
        result = {"setup": setup_times}
        if cfg["mode"] == "run":
            spark.sparkContext.setLogLevel("ERROR")
            result.update(run(cfg, spark, queries, setup_times))
    finally:
        spark.stop()
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
