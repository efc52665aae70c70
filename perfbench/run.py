#!/usr/bin/env python3
"""The repository's benchmark: one workload, one closed loop, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run

1. pins the environment (all cores, a fixed and pre-touched driver heap,
   Spark local and temp dirs in a fresh ``.perfbench-run/run-<pid>/``,
   the checkout on ``PYTHONPATH`` for the Python workers) and times
   set-up: process start to registry imported, ``get_spark`` returned and
   a first trivial action done;
2. writes the seeded input tables (cached per seed, outside set-up);
3. runs the workload's fixed job list once cold, then a fixed number of
   warm-up passes, then timed passes until ``--seconds`` have elapsed,
   one job at a time on ``local[cores]``;
4. checks every operation untimed: each query result against its DuckDB
   oracle, each terasort against ``teravalidate`` and teragen's count and
   checksum. A failure is counted, never retried or dropped;
5. prints every metric as ``# metric`` lines and, last, one JSON line
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced timed passes and reports the per-layer metrics (the
medians over traced passes), the tracing overhead and the share of pass
wall that per-query spans do not cover; spans go to ``.perfbench-run/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402

#: driver heap: fits a 15 GB host with room for the Python workers
HEAP = "2g"
#: scale of the generated query inputs (terasort records scale with it)
DEFAULT_SF = 0.01


@dataclass(frozen=True)
class Workload:
    """A fixed job list: registry queries, or the tera pipeline."""

    #: warm-up passes after the cold pass, chosen from measured drift (NOTES.md)
    warmup: int
    queries: tuple[str, ...] = ()
    #: terasort pipeline: records per 0.01 sf, range partitions
    tera: tuple[int, int] | None = None


WORKLOADS = {
    # parquet scans and Catalyst/AQE joins and aggregates, all in the JVM
    # (no Python workers): the no-change side for loop and Arrow work
    "warehouse": Workload(
        warmup=4,
        queries=("q01_pricing_summary", "q06_forecast_revenue", "q03_top_orders", "q05_revenue_by_nation"),
    ),
    # a mutual-kNN graph built by an Arrow cogroup kernel in Python
    # workers, then label propagation whose builder runs eager jobs,
    # checkpoints and caches: driver-bound and iterative
    "graph": Workload(warmup=3, queries=("q166_mutual_knn", "q184_communities")),
    # the reference's own benchmark; its range-partition count is explicit
    "terasort": Workload(warmup=3, tera=(250_000, 16)),
}
ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.queries)

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s.p50": "s", "peak_rss_mb": "MB", "ok_frac": "ratio"}


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_frac"):
        return "ratio"
    return "count"


def layer_units() -> dict[str, str]:
    """Every per-layer metric name, with its unit."""
    names = ["session.import_s", "session.get_spark_s", "session.first_action_s"]
    names += ["plans.build_s", "plans.build_jobs", "plans.action_s", "plans.action_jobs"]
    names += [f"spark.{k}" for k in layers.SPARK_KEYS] + ["spark.tasks_per_stage", "spark.core_busy_frac"]
    names += ["proc.jvm_cpu_s", "proc.jvm_nontask_cpu_s", "proc.pyworker_cpu_s", "proc.driver_py_cpu_s"]
    names += ["proc.jvm_peak_rss_mb", "proc.pyworker_peak_rss_mb", "proc.driver_py_peak_rss_mb"]
    names += ["caching.live_rdds", "caching.cached_mb", "tera.gen_s", "tera.sort_validate_s", "tera.shuffle_mb"]
    names += [f"{q}.{k}" for q in ALL_QUERIES for k in ("wall_s", "jobs")]
    names += ["trace.overhead_s", "trace.uncovered_frac"]
    return {n: _unit(n) for n in names}


RUN_DIR = os.path.join(ROOT, ".perfbench-run")


def pin_env(trace: bool) -> tuple[int, str]:
    """Pin cores, heap, local/temp dirs and PYTHONPATH from outside the
    engine, before the JVM starts. Returns (cores, this run's scratch dir,
    which the caller removes when the run ends)."""
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(RUN_DIR, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    local, tmp = os.path.join(scratch, "local"), os.path.join(scratch, "tmp")
    for d in (local, tmp):
        os.makedirs(d)
    # The heap is pinned: SPARK_GRAFT_DRIVER_MEM caps it, and -Xms with
    # pre-touch makes it resident from the start, so peak RSS does not
    # depend on when G1 decides to grow the heap.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
    conf = {"spark.driver.extraJavaOptions": jvm_opts}
    if trace:
        # the live store keeps 1000 jobs/stages by default; one traced
        # query can exceed that, so keep everything for the run
        conf |= {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        PYSPARK_SUBMIT_ARGS=f"{submit} pyspark-shell",
    )
    sys.path.insert(0, ROOT)
    return cores, scratch


def since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / layers.CLK


def set_up(workload: Workload) -> tuple[object, dict[str, float]]:
    """Import the registry, start the session, run a trivial action."""
    pre = since_process_start()
    t0 = time.perf_counter()
    from pandamapreduce_spark.plans import REGISTRY  # noqa: F401
    from pandamapreduce_spark.session import get_spark

    if workload.tera:
        from pandamapreduce_spark.operators import tera  # noqa: F401
    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    parts = {"import_s": pre + t1 - t0, "get_spark_s": t2 - t1, "first_action_s": t3 - t2}
    parts["setup_s"] = sum(parts.values())
    return spark, parts


def stop(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    pids = layers.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class Bench:
    """One workload's passes in one Spark session, and their readings."""

    def __init__(self, spark, workload: Workload, data_dir: str | None, sf: float, warmup: int, trace: bool):
        from pandamapreduce_spark.plans import REGISTRY

        self.spark, self.sc, self.wl = spark, spark.sparkContext, workload
        self.registry, self.data_dir, self.warmup, self.trace = REGISTRY, data_dir, warmup, trace
        self.tree = layers.ProcTree(self.sc._gateway.proc.pid)
        self.store = layers.SparkStore(spark) if trace else None
        self.spans = layers.Spans()
        self.tera_records = int(workload.tera[0] * sf / 0.01) if workload.tera else 0
        self.ops: list[dict] = []
        self.passes: list[dict] = []

    # -- operations ---------------------------------------------------
    def _group(self, gid: str | None) -> None:
        if self.trace:
            self.sc.setLocalProperty("spark.jobGroup.id", gid)

    def _query(self, name: str, tag: str, traced: bool, parent: int | None) -> dict:
        q = self.registry[name]
        op = {"name": name, "tag": tag}
        sid = self.spans.open(name, parent) if traced else None
        t0 = time.perf_counter()
        self._group(f"{tag}.{name}.build" if traced else None)
        bid = self.spans.open("build", sid) if traced else None
        df = q.build(self.spark, self.data_dir)
        t1 = time.perf_counter()
        if traced:
            self.spans.close(bid)
            aid = self.spans.open("action", sid)
        self._group(f"{tag}.{name}.action" if traced else None)
        op["result"] = df.toPandas()
        t2 = time.perf_counter()
        if traced:
            self.spans.close(aid)
            self.spans.close(sid)
        op.update(wall_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1)
        return op

    def _tera(self, tag: str, traced: bool, parent: int | None) -> dict:
        from pyspark import StorageLevel

        from pandamapreduce_spark.operators import tera

        n, parts = self.tera_records, self.wl.tera[1]
        op = {"name": "tera", "tag": tag}
        sid = self.spans.open("tera", parent) if traced else None
        t0 = time.perf_counter()
        self._group(f"{tag}.tera.gen" if traced else None)
        gid = self.spans.open("gen", sid) if traced else None
        gen = tera.teragen(self.spark, n, parts).persist(StorageLevel.MEMORY_AND_DISK)
        build_s = time.perf_counter() - t0
        try:
            op["count"] = gen.count()
            t1 = time.perf_counter()
            if traced:
                self.spans.close(gid)
                vid = self.spans.open("sort_validate", sid)
            self._group(f"{tag}.tera.sort_validate" if traced else None)
            sorted_df = tera.terasort(gen, parts)
            build_s += time.perf_counter() - t1
            op["verdict"] = tera.teravalidate(sorted_df)
        finally:
            gen.unpersist(blocking=True)
        t2 = time.perf_counter()
        if traced:
            self.spans.close(vid)
            self.spans.close(sid)
        # build = the two lazy DataFrame constructions; action = the rest
        op.update(wall_s=t2 - t0, gen_s=t1 - t0, sort_validate_s=t2 - t1, build_s=build_s, action_s=t2 - t0 - build_s)
        return op

    def _read_groups(self, op: dict) -> None:
        """Attach the op's Spark counters per phase (traced passes)."""
        phases = ("gen", "sort_validate") if op["name"] == "tera" else ("build", "action")
        op["spark"] = {ph: self.store.group(f"{op['tag']}.{op['name']}.{ph}") for ph in phases}
        op["live_rdds"], op["cached_mb"] = self.store.cached()

    def run_pass(self, idx: int, traced: bool) -> None:
        tag = f"p{idx}"
        cpu0 = self.tree.cpu() if traced else None
        span = self.spans.open(f"pass{idx}", None) if traced else None
        t0 = time.perf_counter()
        ops = []
        for q in self.wl.queries or ("tera",):
            try:
                op = self._tera(tag, traced, span) if q == "tera" else self._query(q, tag, traced, span)
            except Exception as exc:  # a failed operation is counted, never retried
                print(f"# FAIL {tag} {q}: {type(exc).__name__}: {exc}".splitlines()[0], file=sys.stderr)
                op = {"name": q, "tag": tag, "error": repr(exc)}
            else:
                if traced:
                    self._read_groups(op)
            ops.append(op)
        wall = time.perf_counter() - t0
        if traced:
            self.spans.close(span)
        rec = {"idx": idx, "wall_s": wall, "traced": traced, "ops": ops}
        if traced:
            cpu1 = self.tree.cpu()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
        self.tree.sample_rss()
        self.ops += ops
        self.passes.append(rec)
        print(f"# pass {idx} {'traced' if traced else 'untraced'} {wall:.3f}s", file=sys.stderr)

    def run(self, seconds: float) -> None:
        """Cold pass, warm-up passes, then timed passes for ``seconds``
        (in a traced run every second timed pass is traced)."""
        for i in range(self.warmup + 1):
            self.run_pass(i, traced=False)
        t0, i = time.perf_counter(), self.warmup + 1
        while i <= self.warmup + (2 if self.trace else 1) or time.perf_counter() - t0 < seconds:
            self.run_pass(i, traced=self.trace and (i - self.warmup) % 2 == 0)
            i += 1

    # -- correctness (untimed) ----------------------------------------
    def check(self) -> int:
        """Mark every op ok or not; return the number that failed."""
        if self.wl.tera:
            from pandamapreduce_spark.operators import tera

            self._group(None)
            ref = tera.teravalidate_partitions(tera.teragen(self.spark, self.tera_records, self.wl.tera[1])).collect()
            ref_sum = int(sum(int(r.checksum) for r in ref))
            for op in self.ops:
                v = op.get("verdict")
                op["ok"] = bool(
                    v
                    and v["all_sorted"]
                    and v["boundaries_ok"]
                    and v["n_records"] == op["count"] == self.tera_records
                    and v["checksum"] == ref_sum
                )
        else:
            from scripts.check_parity import make_oracle
            from tests.test_oracle_parity import canon

            con = make_oracle(self.data_dir)
            want = {}
            for q in self.wl.queries:
                w = con.execute(self.registry[q].oracle).df()
                want[q] = (sorted(w.columns), len(w), canon(w))
            con.close()
            for op in self.ops:
                got = op.pop("result", None)
                op["ok"] = got is not None and (sorted(got.columns), len(got), canon(got)) == want[op["name"]]
        bad = [op for op in self.ops if not op["ok"]]
        for op in bad:
            print(f"# WRONG {op['tag']} {op['name']}", file=sys.stderr)
        return len(bad)

    # -- metrics --------------------------------------------------------
    def layer_metrics(self, setup: dict[str, float], cores: int) -> dict[str, float]:
        """Every per-layer metric: medians over traced passes; a layer the
        workload does not run (another workload's query, tera) reads 0."""
        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"] and p["idx"] > self.warmup]
        out = dict.fromkeys(layer_units(), 0.0)
        for k in ("import_s", "get_spark_s", "first_action_s"):
            out[f"session.{k}"] = setup[k]

        def med(fn) -> float:
            return statistics.median(fn(p) for p in traced)

        def ops(p, name=None):
            return [o for o in p["ops"] if "spark" in o and (name is None or o["name"] == name)]

        def spark_sum(p, key, phase=None):
            return sum(v[key] for o in ops(p) for ph, v in o["spark"].items() if phase in (None, ph))

        for key in layers.SPARK_KEYS:
            out[f"spark.{key}"] = med(lambda p: spark_sum(p, key))
        out["spark.tasks_per_stage"] = med(lambda p: spark_sum(p, "tasks") / max(spark_sum(p, "stages"), 1))
        out["spark.core_busy_frac"] = med(lambda p: spark_sum(p, "task_run_s") / (cores * p["wall_s"]))
        out["proc.jvm_cpu_s"] = med(lambda p: p["cpu"]["jvm"])
        out["proc.jvm_nontask_cpu_s"] = med(lambda p: p["cpu"]["jvm"] - spark_sum(p, "task_cpu_s"))
        out["proc.pyworker_cpu_s"] = med(lambda p: p["cpu"]["pyworker"])
        out["proc.driver_py_cpu_s"] = med(lambda p: p["cpu"]["driver_py"])
        for role in ("jvm", "pyworker", "driver_py"):
            out[f"proc.{role}_peak_rss_mb"] = self.tree.peak_mb[role]
        out["caching.live_rdds"] = med(lambda p: max((o["live_rdds"] for o in ops(p)), default=0))
        out["caching.cached_mb"] = med(lambda p: max((o["cached_mb"] for o in ops(p)), default=0.0))
        out["plans.build_s"] = med(lambda p: sum(o["build_s"] for o in ops(p)))
        out["plans.action_s"] = med(lambda p: sum(o["action_s"] for o in ops(p)))
        out["plans.build_jobs"] = med(lambda p: spark_sum(p, "jobs", "build"))
        out["plans.action_jobs"] = med(lambda p: spark_sum(p, "jobs") - spark_sum(p, "jobs", "build"))
        if self.wl.tera:
            out["tera.gen_s"] = med(lambda p: sum(o["gen_s"] for o in ops(p)))
            out["tera.sort_validate_s"] = med(lambda p: sum(o["sort_validate_s"] for o in ops(p)))
            out["tera.shuffle_mb"] = med(lambda p: spark_sum(p, "shuffle_write_mb", "sort_validate"))
        else:
            for q in self.wl.queries:
                out[f"{q}.wall_s"] = med(lambda p: sum(o["wall_s"] for o in ops(p, q)))
                out[f"{q}.jobs"] = med(lambda p: sum(v["jobs"] for o in ops(p, q) for v in o["spark"].values()))
        out["trace.overhead_s"] = med(lambda p: p["wall_s"]) - statistics.median(p["wall_s"] for p in plain)
        out["trace.uncovered_frac"] = med(lambda p: 1 - sum(o.get("wall_s", 0.0) for o in p["ops"]) / p["wall_s"])
        return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale (smoke test: 0.001)")
    ap.add_argument("--warmup", type=int, default=None, help="warm-up passes (default: the workload's)")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    warmup = wl.warmup if args.warmup is None else args.warmup
    trace = bool(args.trace)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cores, scratch = pin_env(trace)
    try:
        steal0 = layers.steal_jiffies()
        spark, setup = set_up(wl)
        try:
            env = {
                "workload": args.workload,
                "cores": cores,
                "heap": HEAP,
                "sf": None if wl.tera else args.sf,
                "seed": args.seed,
                "seed_applies": not wl.tera,
                "steal_frac_since_boot": steal0[1] / steal0[0],
            }
            data_dir = None
            if not wl.tera:
                import data

                data_dir = data.ensure(os.path.join(ROOT, ".perfbench-data"), args.sf, args.seed)
            bench = Bench(spark, wl, data_dir, args.sf, warmup, trace)
            if wl.tera:
                env["tera"] = {"records": bench.tera_records, "partitions": wl.tera[1]}
            print("# env " + json.dumps(env), flush=True)
            bench.run(args.seconds)
            bench.tree.sample_rss()
            failed = bench.check()
        finally:
            stop(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    if trace:
        bench.spans.dump(os.path.join(RUN_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
        metrics, units = bench.layer_metrics(setup, cores), layer_units()
    else:
        metrics = {
            "setup_s": setup["setup_s"],
            "cold_pass_s": bench.passes[0]["wall_s"],
            "pass_s.p50": statistics.median(p["wall_s"] for p in bench.passes[warmup + 1 :]),
            "peak_rss_mb": bench.tree.peak_mb["tree"],
            "ok_frac": 1 - failed / len(bench.ops),
        }
        units = E2E_UNITS
    steal1 = layers.steal_jiffies()
    env["steal_frac_run"] = (steal1[1] - steal0[1]) / max(steal1[0] - steal0[0], 1)
    env["passes"] = {"cold": 1, "warmup": warmup, "timed": len(bench.passes) - warmup - 1}
    env["fail_frac"] = failed / len(bench.ops)
    env["peak_rss_mb"] = bench.tree.peak_mb
    print("# env " + json.dumps(env))
    for k, v in metrics.items():
        print(f"# metric {k} = {v:.6g} {units[k]}")
    result = {
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
