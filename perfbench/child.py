"""The measured process: one Spark session, one workload, closed loop.

    python3 perfbench/child.py SPAWN_EPOCH CONFIG_JSON

run.py spawns this after generating the inputs, passing the wall-clock
time of the spawn, so setup_s covers interpreter start, imports, session
start, registry load and one trivial action. Then, in order:

  first cycle   every job of the mix once, on the cold session
  warm-up       cycles until their times stop falling (bounded)
  measured      cycles for --seconds (at least 3); cycle_s is their median
  traced        (--trace 1, instead of warm-up and measured cycles) one
                warm-up cycle, untraced and traced cycles alternately, then
                every other workload's jobs and the layer probes, with
                spans and stage counters

A cycle runs each job once in a fixed order and forces it through the
workload's sink; caches are cleared and the JVM collects garbage between
cycles. Every execution's result is digested after the cycle's clock
stops. Results go to the config's result_json; spans to spans.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import config, hygiene  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


class Bench:
    def __init__(self, cfg: dict, t_spawn: float) -> None:
        self.cfg = cfg
        self.t_spawn = t_spawn
        self.tracer = Tracer(cfg["run_id"], enabled=bool(cfg["trace"]))
        self.off = Tracer(cfg["run_id"], enabled=False)
        self.out_dir = os.path.join(cfg["run_dir"], "out")
        self.counts: dict[str, dict] = {}
        self.errors: list[str] = []
        self._group_seq = 0
        self.job_times: list[dict] = []  # per cycle: job -> seconds
        self.mem_samples: list[int] = []

    # -- setup ----------------------------------------------------------
    def setup(self) -> None:
        from mapreduce_sm_spark.benchwatch import become_subreaper

        become_subreaper()  # orphaned workers stay in our tree
        with self.tracer.span("session.get_spark") as sp_session:
            from mapreduce_sm_spark.session import get_spark

            self.spark = get_spark("perfbench")
        with self.tracer.span("registry.load") as sp_registry:
            from mapreduce_sm_spark.registry import load_all_operators

            load_all_operators()
        self.spark.range(1000).count()
        self.setup_s = time.time() - self.t_spawn
        self.setup_spans = (sp_session, sp_registry)
        self.cores = self.spark.sparkContext.defaultParallelism
        self.mem = hygiene.Memory(self.spark)
        from perfbench.jobs import make_jobs

        names = config.ALL_JOBS if self.cfg["trace"] else self.cfg["jobs"]
        self.jobs = make_jobs(names)
        self.counts = {j: {"attempted": 0, "raised": 0, "digests": []} for j in names}

    def data_dir(self, job: str) -> str:
        for w in config.WORKLOADS.values():
            if job in w["jobs"]:
                return self.cfg["data"][w["input"]]
        raise KeyError(job)

    @contextmanager
    def _group(self, tag: str, groups: list | None):
        """Run the block's Spark jobs under a fresh job group, appended to
        `groups`; with groups=None, run it with no group."""
        if groups is None:
            yield
            return
        self._group_seq += 1
        group = f"{self.cfg['run_id']}/{self._group_seq}/{tag}"
        groups.append(group)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, tag)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _failed(self, name: str) -> None:
        self.counts[name]["raised"] += 1
        self.errors.append(f"{name}: {traceback.format_exc(limit=3)[-800:]}")

    # -- one job, one cycle ---------------------------------------------
    def run_job(self, name: str, tracer: Tracer, groups: list | None = None) -> dict:
        """Operator call then sink. With tracing, the operator call is
        planned through executedPlan() inside its own span and job group,
        so plan time is separate from the action."""
        job = self.jobs[name]
        rec = {"job": name, "ok": False}
        self.counts[name]["attempted"] += 1
        try:
            t0 = time.perf_counter()
            with tracer.span(f"operators.{name}.plan"), self._group(f"{name}.plan", groups):
                df = job.build(self.spark, self.data_dir(name))
                if tracer.enabled:
                    df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            with tracer.span(f"operators.{name}.exec"), self._group(f"{name}.exec", groups):
                sunk = job.sink(df, self.out_dir)
            t2 = time.perf_counter()
            rec.update(ok=True, plan_s=t1 - t0, exec_s=t2 - t1, df=df, sunk=sunk)
        except Exception:  # a failing job is counted, and the run goes on
            self._failed(name)
        return rec

    def check(self, rec: dict) -> None:
        """Digest one execution's result (outside any timed region)."""
        from perfbench.digest import digest

        if not rec["ok"]:
            return
        rec["ok"] = False
        name = rec["job"]
        try:
            cols, rows, dates = self.jobs[name].result(rec.pop("df"), rec.pop("sunk"), self.out_dir)
            self.counts[name]["digests"].append(digest(cols, rows, dates))
            rec["rows"] = len(rows)
            rec["ok"] = True
        except Exception:
            self._failed(name)

    def cycle(self, names: list[str], tracer: Tracer, groups: dict | None = None) -> tuple[float, list]:
        recs = []
        t0 = time.perf_counter()
        with tracer.span("cycle"):
            for name in names:
                g = [] if groups is not None else None
                recs.append(self.run_job(name, tracer, g))
                if groups is not None:
                    groups[name] = g
        wall = time.perf_counter() - t0
        for rec in recs:
            self.check(rec)
        self.between_cycles()
        self.job_times.append({r["job"]: round(r.get("plan_s", 0) + r.get("exec_s", 0), 4)
                               for r in recs})
        return wall, recs

    def between_cycles(self) -> None:
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()
        self.mem.sample()
        self.mem_samples.append(self.mem.last_kb)

    # -- the untraced protocol -------------------------------------------
    def measure(self, measured: bool) -> dict:
        names = self.cfg["jobs"]
        first, _ = self.cycle(names, self.off)
        if not measured:
            return {"first_cycle_s": first, "warm_cycles": []}
        warm: list[float] = []
        while len(warm) < config.WARM_MIN or (
            warm[-1] < 0.97 * warm[-2] and len(warm) < config.WARM_MAX
        ):
            warm.append(self.cycle(names, self.off)[0])
        out = {"first_cycle_s": first, "warm_cycles": warm}
        fc = hygiene.ForeignCpu()
        fc.start()
        out["load1_before_measure"] = hygiene.load1()
        cycles: list[float] = []
        t_meas = time.perf_counter()
        while len(cycles) < 3 or time.perf_counter() - t_meas < self.cfg["seconds"]:
            cycles.append(self.cycle(names, self.off)[0])
        out.update(cycle_s=statistics.median(cycles), cycles=cycles, **fc.stop())
        return out

    # -- the traced run ---------------------------------------------------
    def traced(self, n_pairs: int) -> dict:
        """Untraced and traced cycles in U T T U order, so the tracing
        overhead (median traced minus median untraced cycle) is not
        confounded by JIT warm-up; then every other workload's jobs (the
        second run of each is measured) and the layer probes."""
        from perfbench.stages import StageCounters

        self.stages = StageCounters(self.spark)
        names = self.cfg["jobs"]
        plain, walls, per_job = [], [], {n: [] for n in names}
        groups: dict = {}
        self.cycle(names, self.off)  # warm-up, so the first U is not the coldest
        fc = hygiene.ForeignCpu()
        fc.start()
        for i in range(2 * n_pairs):
            if i % 4 in (0, 3):  # U T T U ...: neither side always runs warmer
                plain.append(self.cycle(names, self.off)[0])
                continue
            groups = {}
            wall, recs = self.cycle(names, self.tracer, groups)
            walls.append(wall)
            for r in recs:
                per_job[r["job"]].append(r)
        hyg = fc.stop()
        ops = {n: self.job_metrics(per_job[n], groups[n]) for n in names}
        for name in config.ALL_JOBS:
            if name in ops:
                continue
            self.cycle([name], self.off)  # first run: cold plan and JIT
            g: dict = {}
            _, recs = self.cycle([name], self.tracer, g)
            ops[name] = self.job_metrics(recs, g[name])
        layers = self.layer_probes()
        layers["trace.overhead_s"] = statistics.median(walls) - statistics.median(plain)
        return {**hyg, "untraced_cycle_s": statistics.median(plain),
                "traced_cycle_s": statistics.median(walls),
                "operators": ops, "layers": layers}

    def job_metrics(self, recs: list[dict], groups: list[str]) -> dict:
        """Median plan and exec time over `recs`; stage counters of the
        last execution (its job groups)."""
        ok = [r for r in recs if r["ok"]]
        c = self.stages.collect(groups)
        plan = statistics.median(r["plan_s"] for r in ok) if ok else float("nan")
        exe = statistics.median(r["exec_s"] for r in ok) if ok else float("nan")
        rows = ok[-1]["rows"] if ok else 0
        return {
            "plan_s": plan,
            "exec_s": exe,
            "executor_run_s": c["executor_run_s"],
            "core_util": c["executor_run_s"] / ((plan + exe) * self.cores),
            "shuffle_write_bytes": c["shuffle_write_bytes"],
            "shuffle_read_bytes": c["shuffle_read_bytes"],
            "shuffle_records": c["shuffle_records"],
            "spill_bytes": c["spill_bytes"],
            "gc_s": c["gc_s"],
            "tasks": c["tasks"],
            "task_skew": c["task_skew"],
            "output_rows": rows,
            "yield": rows / max(c["shuffle_records"], 1),
        }

    def probe(self, name: str, fn) -> tuple[float, dict]:
        """Run fn twice; the second run is timed in a span and its stage
        counters collected."""
        fn()
        self.between_cycles()
        groups: list[str] = []
        t0 = time.perf_counter()
        with self.tracer.span(name), self._group(name, groups):
            fn()
        dt = time.perf_counter() - t0
        self.between_cycles()
        return dt, self.stages.collect(groups)

    def layer_probes(self) -> dict:
        from pyspark.sql import functions as F

        from mapreduce_sm_spark.functions.hashing import hash60
        from mapreduce_sm_spark.functions.text import distinct_shingles, tokenize_words
        from mapreduce_sm_spark.session import table
        from mapreduce_sm_spark.sources.readers import read_text
        from mapreduce_sm_spark.sources.sinks import write_formatted_text
        from perfbench.jobs import TEXT_FILE, wordcount_df

        spark = self.spark
        text_dir = self.cfg["data"]["text"]
        txt = os.path.join(text_dir, TEXT_FILE)
        star = self.cfg["data"]["star"]
        docs = self.cfg["data"]["documents"]

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        m: dict[str, float] = {}
        sp_session, sp_registry = self.setup_spans
        m["session.get_spark_s"] = sp_session["end"] - sp_session["start"]
        m["registry.load_s"] = sp_registry["end"] - sp_registry["start"]

        m["sources.read_text_s"], c_text = self.probe(
            "sources.read_text", lambda: noop(read_text(spark, txt)))
        m["sources.read_text_numbered_s"], _ = self.probe(
            "sources.read_text_numbered",
            lambda: noop(read_text(spark, txt, with_line_numbers=True)))

        def scan_facts():
            for t in ("lineitem", "orders"):
                noop(table(spark, star, t))

        m["sources.parquet_scan_s"], c_pq = self.probe("sources.parquet_scan", scan_facts)
        m["sources.input_bytes"] = c_text["input_bytes"] + c_pq["input_bytes"]
        m["sources.input_records"] = c_text["input_records"] + c_pq["input_records"]

        result = wordcount_df(spark, text_dir).cache()
        result.count()
        sink_dir = os.path.join(self.out_dir, "sink_probe")
        m["sources.sink_s"], _ = self.probe(
            "sources.sink",
            lambda: write_formatted_text(result, "%s\t%d", ["word", "cnt"], sink_dir,
                                         single_file=True))
        m["sources.output_bytes"] = sum(
            os.path.getsize(os.path.join(sink_dir, f))
            for f in os.listdir(sink_dir) if f.startswith("part-"))
        result.unpersist()

        tok_s, _ = self.probe(
            "functions.tokenize_words",
            lambda: noop(read_text(spark, txt).select(
                F.explode(tokenize_words("value")).alias("word"))))
        # the tokenizer's self time: scan + explode minus the scan alone
        m["functions.tokenize_words_s"] = tok_s - m["sources.read_text_s"]
        m["functions.shingle_hash_s"], _ = self.probe(
            "functions.shingle_hash",
            lambda: noop(table(spark, docs, "documents").select(
                F.transform(distinct_shingles("text"), lambda s: hash60(s)).alias("h"))))

        def build_pipeline():
            wordcount_df(spark, text_dir)._jdf.queryExecution().executedPlan()

        m["plans.pipeline_build_s"], _ = self.probe("plans.pipeline_build", build_pipeline)
        return m


def main() -> int:
    t_spawn = float(sys.argv[1])
    with open(sys.argv[2]) as fh:
        cfg = json.load(fh)
    os.makedirs(os.path.join(cfg["run_dir"], "out"), exist_ok=True)
    load_start = hygiene.load1()
    b = Bench(cfg, t_spawn)
    b.setup()
    res = {"setup_s": b.setup_s, "load1_at_start": load_start,
           "nproc": hygiene.nproc(), "cores": b.cores,
           "versions": hygiene.versions(b.spark)}
    res.update(b.measure(measured=not cfg["trace"]))
    if cfg["trace"]:
        res.update(b.traced(config.TRACE_PAIRS))
        b.tracer.write(os.path.join(cfg["run_dir"], "spans.json"))
    res["live_mem_mb"] = b.mem.live_kb / 1024.0
    res["live_mem_kb_by_part"] = b.mem.breakdown
    res["live_mem_samples_kb"] = b.mem_samples
    res["peak_rss_mb"] = b.mem.hwm_kb / 1024.0
    res["counts"] = b.counts
    res["job_times"] = b.job_times
    res["errors"] = b.errors
    with open(cfg["result_json"], "w") as fh:
        json.dump(res, fh, indent=1)
    b.spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
