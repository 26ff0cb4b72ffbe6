#!/usr/bin/env python3
"""The repo benchmark: one seeded workload run, printed as metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness if their sources changed (build.py),
generates the workload's inputs from the seed, runs the harness JVM
(one client thread, closed loop, `local[4]`) for at least `--seconds` in
whole passes of the op mix, checks the outputs (oracle.py) and prints a
report. The last stdout line is one JSON
object: `correct`, `attempted`, `failed` and `metrics`, which holds every
end-to-end metric with `--trace 0` and every per-layer metric with
`--trace 1`. A traced run also keeps its spans in
`.bench_build/traces/<workload>-<seed>.spans.jsonl`. Every file a run
writes is under `.bench_build/` of the checkout; the run's own directory
is removed at the end.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
DEADLINE_S = 170


def read_ops(path):
    records = []
    for line in Path(path).read_text().splitlines():
        i, kind, part, name, t0, t1, ok, traced = line.split("\t")
        records.append({"i": int(i), "kind": kind, "part": part, "name": name,
                        "s": (int(t1) - int(t0)) / 1e9, "ok": ok == "1",
                        "traced": traced == "1"})
    return records


def prepare(workload, seed, run_dir):
    """Write the seeded inputs; returns (data dir, op list, params)."""
    data = run_dir / "data"
    tables = datagen.tables(seed, workloads.SF)
    datagen.write_tables(tables, data)
    n_rows = datagen.write_dml_base(tables["orders"], data / "dml_base.parquet")
    params, ops = workloads.make(workload, seed, n_rows)
    (run_dir / "ops.tsv").write_text(workloads.render(params, ops))
    return data, ops, params


def check(data, ops, params, records, result):
    """Failures as (part, query name or None, message)."""
    c = result["check"]
    failures = []
    if "sql" in c:
        if c["sql"]["pool_error"]:
            failures.append(("sql", None, f"query pools: {c['sql']['pool_error']}"))
        names = list(dict.fromkeys(o[2] for o in ops if o[1] == "sql"))
        failures += [("sql", n, m) for n, m in
                     oracle.check_queries(data, c["sql"]["results"], names)]
    if "dml" in c:
        done = {r["i"] for r in records if r["ok"]}
        executed = [o for i, o in enumerate(ops)
                    if o[1] == "dml" and (i < params["warm"] or i in done)]
        failures += [("dml", None, m) for m in
                     oracle.check_dml(data / "dml_base.parquet", c["dml"]["results"], executed)]
    if "etl" in c:
        failures += [("etl", None, m) for m in oracle.check_medallion(c["etl"])]
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    root = HERE.parent
    try:
        classpath = build.ensure_built(root)
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    started = time.monotonic()

    setup_t0 = time.time()
    run_dir = root / ".bench_build" / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        data, ops, params = prepare(a.workload, a.seed, run_dir)
        cmd = (["java", build.HEAP] + build.JVM_FLAGS +
               [f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", os.pathsep.join(classpath),
                "perfbench.Harness", a.workload, str(run_dir), str(data),
                str(run_dir / "ops.tsv"), str(a.seconds), str(a.trace)])
        with open(run_dir / "harness.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                sys.exit("perfbench: harness did not finish in time")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0:
            sys.stderr.write((run_dir / "harness.log").read_text()[-4000:])
            sys.exit(f"perfbench: harness exited with {code}")

        out = run_dir / "out"
        result = json.loads((out / "run.json").read_text())
        records = read_ops(out / "ops.tsv")
        check_t0 = time.monotonic()
        failures = check(data, ops, params, records, result)
        check_s = time.monotonic() - check_t0
        for part, name, msg in failures:
            print(f"check failed: {part} {name or ''}: {msg}")
        # an op fails when it threw or when the check found its result wrong;
        # the pipeline and table checks cover the state every op of their
        # part built, so a failure there fails all of them
        wrong = {(p, n) for p, n, _ in failures}
        failed = sum(not r["ok"] or (r["part"], r["name"]) in wrong or
                     (r["part"], None) in wrong for r in records)

        if a.trace:
            values = dict(result["layers"])
            values["trace.overhead"] = metrics.trace_overhead(records)
            values["creatorops.backfill_ms"] = result.get("backfill_ms", 0.0)
            values["jvm.heap_live_mb"] = result["heap_live_mb"]
            report = select(values, SPEC["per_layer"])
            for k, v in report.items():
                print(f"{a.workload:14s} {k:24s} {v['value']:16.4f} {v['unit']}")
            traces = root / ".bench_build" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(out / "spans.jsonl", traces / f"{a.workload}-{a.seed}.spans.jsonl")
        else:
            setup_s = result["first_op_epoch_ms"] / 1e3 - setup_t0
            values, detail = metrics.end_to_end(
                records, result, setup_s, result["table_bytes"], result["input_bytes"],
                params["warm"], params["pass"])
            report = select(values, SPEC["end_to_end"])
            for k, v in report.items():
                print(f"{a.workload:14s} {k:16s} {v['value']:14.4f} {v['unit']:6s} "
                      f"{detail.get(k, '')}")
            print(f"{a.workload:14s} set-up ms by part: {result['setup_ms']}, "
                  f"loop {result['loop_s']:.1f} s, check {check_s:.1f} s")
        print(json.dumps({"correct": not failures and failed == 0,
                          "attempted": max(1, len(records)),
                          "failed": failed, "metrics": report}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def select(values, spec):
    """The metrics BENCHMARK.json lists, in its order, with its units."""
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


if __name__ == "__main__":
    main()
