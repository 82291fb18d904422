"""Benchmark entry point.

    python3 perfbench/run.py --workload mr_text --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's seeded inputs
(cached under .perfbench_work/cache), spawns the measured process
(perfbench/child.py), checks every job's result digest against the
registry's DuckDB oracle, and prints the metrics: one line per metric
with its unit, then, as the last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. --trace 0 prints the end-to-end
metrics, --trace 1 the per-layer ones. Each run's full record (inputs and
their digests, hygiene, every cycle time, errors) is kept under
.perfbench_work/runs/.

Exits non-zero without a result line when the program under test is not
in the checkout or the measured process fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD_TIMEOUT_S = 165


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--corrupt", default=None, metavar="JOB",
                    help="flip JOB's expected digest (smoke test of the check)")
    return ap.parse_args(argv)


def _die(msg: str) -> int:
    sys.stderr.write(f"perfbench: {msg}\n")
    return 2


def evict(cache_root: str, kind: str, keep: int, current: str) -> None:
    """Keep the newest `keep` datasets of one kind (never the current)."""
    dirs = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)
         if d.startswith(f"{kind}-s") and not d.endswith(".tmp")),
        key=os.path.getmtime, reverse=True,
    )
    for d in dirs[keep:]:
        if os.path.abspath(d) != os.path.abspath(current):
            shutil.rmtree(d, ignore_errors=True)


def reap_strays() -> None:
    """Stop any process of ours left behind (we are a subreaper, so
    orphans of the measured tree are our children) and wait for it."""
    from mapreduce_sm_spark import benchwatch

    snap = benchwatch.snapshot() or {}
    me = os.getpid()
    strays = [p for p in benchwatch.descendants(snap, me) if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in strays:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            try:
                if os.waitpid(-1, os.WNOHANG) == (0, 0):
                    time.sleep(0.1)
            except ChildProcessError:
                return  # no children left


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_sm_spark")):
        return _die("mapreduce_sm_spark/ not found next to perfbench/; run from a full checkout")
    sys.path.insert(0, ROOT)
    try:
        from mapreduce_sm_spark.benchwatch import become_subreaper

        from perfbench import config, gen
        from perfbench.digest import oracle_digests
        from perfbench.hygiene import load1, nproc
    except ImportError as e:
        return _die(f"cannot import the program or its toolchain: {e}")
    if args.workload not in config.WORKLOADS:
        return _die(f"unknown workload {args.workload!r}; one of {sorted(config.WORKLOADS)}")
    become_subreaper()
    wl = config.WORKLOADS[args.workload]
    work = os.path.join(ROOT, config.WORK_DIR)
    cache = os.path.join(work, "cache")
    os.makedirs(cache, exist_ok=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    os.makedirs(run_dir)
    load_start = load1()

    # inputs: the workload's own, plus every other in a traced run
    kinds = list(config.INPUTS) if args.trace else [wl["input"]]
    t0 = time.perf_counter()
    manifests = {k: gen.ensure(cache, k, args.seed, config.INPUTS[k][args.size]) for k in kinds}
    gen_s = time.perf_counter() - t0
    for k, m in manifests.items():
        evict(cache, k, config.CACHE_KEEP, m["dir"])

    child_cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id, "run_dir": run_dir,
        "jobs": wl["jobs"], "data": {k: m["dir"] for k, m in manifests.items()},
        "result_json": os.path.join(run_dir, "child.json"),
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(child_cfg, fh, indent=1)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARKSM_DRIVER_MEMORY"] = config.DRIVER_MEMORY
    # keep Spark's and Python's scratch files inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = tmp
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    log_path = os.path.join(run_dir, "child.log")
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "child.py"), repr(t_spawn), cfg_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    reap_strays()
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    if rc != 0 or not os.path.exists(child_cfg["result_json"]):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        return _die(f"measured process failed (rc={rc}); log {log_path}:\n{tail}")
    with open(child_cfg["result_json"]) as fh:
        res = json.load(fh)

    # correctness: every execution's digest against the registry oracle
    # evaluated on the same bytes
    t0 = time.perf_counter()
    checked = {}
    for kind in manifests:
        jobs = [j for w in config.WORKLOADS.values() if w["input"] == kind
                for j in w["jobs"] if j in res["counts"]]
        expect = oracle_digests(kind, manifests[kind]["dir"], jobs)
        for job in jobs:
            want = expect[job]["digest"]
            if job == args.corrupt:
                want = "corrupted-" + want
            got = res["counts"][job]["digests"]
            checked[job] = {"checked": len(got), "mismatched": sum(d != want for d in got),
                            "oracle_rows": expect[job]["rows"],
                            "oracle_s": expect[job]["seconds"]}
    oracle_s = time.perf_counter() - t0
    attempted = sum(c["attempted"] for c in res["counts"].values())
    failed = sum(c["raised"] for c in res["counts"].values()) + sum(
        c["mismatched"] for c in checked.values())
    correct = failed == 0

    if args.trace:
        metrics = dict(res["layers"])
        for job, ops in res["operators"].items():
            metrics.update({f"operators.{job}.{k}": v for k, v in ops.items()})
        units = dict(config.per_layer_metrics())
    else:
        metrics = {k: res[k] for k, _ in config.END_TO_END}
        units = dict(config.END_TO_END)
    record = {
        "run_id": run_id, "args": vars(args), "workload": wl,
        "inputs": manifests, "input_params_size": args.size,
        "gen_s": gen_s, "oracle_s": oracle_s,
        "hygiene": {"nproc": res["nproc"], "cores": res["cores"],
                    "load1_at_start": load_start,
                    "load1_child_start": res["load1_at_start"],
                    "load1_before_measure": res.get("load1_before_measure"),
                    "foreign_cores_during_measure": res.get("foreign_cores"),
                    "steal_cores_during_measure": res.get("steal_cores"),
                    "versions": res["versions"]},
        "first_cycle_s": res["first_cycle_s"], "cycles": res.get("cycles"),
        "warm_cycles": res["warm_cycles"], "checked": checked,
        "live_mem_kb_by_part": res["live_mem_kb_by_part"],
        "live_mem_samples_kb": res["live_mem_samples_kb"],
        "peak_rss_mb": res["peak_rss_mb"],
        "job_times": res["job_times"],
        "counts": res["counts"], "errors": res["errors"],
        "failed_frac": failed / max(attempted, 1),
        "metrics": metrics,
    }
    if args.trace:
        record["predictions"] = config.PREDICTIONS
        record["traced_cycle_s"] = res["traced_cycle_s"]
        record["untraced_cycle_s"] = res["untraced_cycle_s"]
        record["spans"] = os.path.join(run_dir, "spans.json")
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for job, c in checked.items():
        print(f"check {job}: {c['checked'] - c['mismatched']}/{c['checked']} results match "
              f"the oracle ({c['oracle_rows']} rows)")
    for err in res["errors"]:
        job, tb = err.split(":", 1)
        print(f"error {job}: {tb.strip().splitlines()[-1]}")
    h = record["hygiene"]
    print(f"hygiene nproc={h['nproc']} load1_at_start={h['load1_at_start']} "
          f"foreign_cores={h['foreign_cores_during_measure']} "
          f"steal_cores={h['steal_cores_during_measure']} "
          f"pyspark={h['versions']['pyspark']} java={h['versions']['java']}")
    for k, m in manifests.items():
        print(f"input {k} {m['bytes']} bytes sha256={m['sha256']}")
    print(f"failed_frac {record['failed_frac']:.6f} ratio ({failed}/{attempted})")
    print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB (VmHWM sum; recorded, not a bounded metric)")
    if args.trace:
        print(f"trace overhead: traced cycle_s {res['traced_cycle_s']:.4f} s - "
              f"untraced {res['untraced_cycle_s']:.4f} s; spans in {record['spans']}")
    for name, value in metrics.items():
        print(f"{name} {value} {units[name]}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
