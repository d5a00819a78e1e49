"""perfbench — end-to-end benchmark of bamboo_spark.

    python3 perfbench/run.py --workload {nested_ingest,tables_mix}
                             --seed N --seconds S --trace {0,1}
                             [--scale {full,tiny}] [--inject corrupt,raise]

Run from the repository root. One closed-loop client drives the public
API of the package in this checkout on ``local[<cpus>]``. Every input
derives from ``--seed``; every op's output is checked. Human-readable
metrics go to stdout, then the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
SETUP_REPEATS = 3


def _configure_env(work: str) -> None:
    """Pin the environment the program reads, before pyspark starts a
    JVM: cores, shuffle width, driver memory, worker import path, and
    every scratch/spill/warehouse location inside this checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "BAMBOO_SHUFFLE_PARTITIONS": cpus,
            "BAMBOO_DRIVER_MEM": "2g",
            "BAMBOO_SPARK_SPILL_DIR": os.path.join(work, "spill"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.sql.warehouse.dir=%s" % os.path.join(work, "warehouse"),
                    "--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir=%s" % tmp,
                    "pyspark-shell",
                ]
            ),
        }
    )
    os.environ.pop("SPARK_MASTER", None)


class Ctx:
    """What a workload sees: the session, its inputs, and the recorders."""

    def __init__(self, args, work, spark, tracer, jobs, rec):
        self.seed = args.seed
        self.seconds = args.seconds
        self.scale = args.scale
        self.trace = bool(args.trace)
        self.work = work
        self.out = OUT
        self.spark = spark
        self.tracer = tracer
        self.jobs = jobs
        self.rec = rec
        self._seen = {}

    def plain(self, sub: str) -> bool:
        """In a traced run every other occurrence of a variant runs
        untraced, which measures the tracing overhead. Whether the
        first or the second occurrence of a pair runs untraced differs
        between variants and flips with the seed, so that the warmer
        later run is not always the untraced one."""
        if sub not in self._seen:
            self._seen[sub] = [-1, (self.seed + len(self._seen)) % 2]
        seen = self._seen[sub]
        seen[0] += 1
        return self.trace and (seen[0] + seen[1]) % 2 == 1

    @contextmanager
    def untraced(self, on: bool):
        if not on:
            yield
            return
        saved = self.tracer.enabled, self.jobs.enabled
        self.tracer.enabled = self.jobs.enabled = False
        try:
            yield
        finally:
            self.tracer.enabled, self.jobs.enabled = saved


WORKLOADS = {
    # the paper's pipeline: sources, projection, flatten, dataset
    "nested_ingest": ("wl_ingest",),
    # Catalyst and the operators over parquet, then the commit protocol
    # and published-table reads, in one session
    "tables_mix": ("wl_analytics", "wl_commits"),
}


def _run(args, work):
    import importlib
    from concurrent.futures import ThreadPoolExecutor

    from measure import JobGroups, Recorder, RssSampler, Tracer, gmean, median, stop_spark, tail

    mods = [importlib.import_module(m) for m in WORKLOADS[args.workload]]
    tracer = Tracer(bool(args.trace))
    rec = Recorder(tracer, tuple(x for x in args.inject.split(",") if x))
    human, layer = {}, {}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            from bamboo_spark.session import get_spark

            spark = get_spark(app_name="perfbench-%s" % args.workload)
        get_spark_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            jobs = JobGroups(spark.sparkContext, bool(args.trace))
            ctx = Ctx(args, work, spark, tracer, jobs, rec)

            # set-up: input preparation repeated (median), then warm-up
            prep = []
            for i in range(SETUP_REPEATS):
                ctx.work = os.path.join(work, "prep%d" % i)
                os.makedirs(ctx.work)
                t = time.perf_counter()
                states = [m.prepare(ctx) for m in mods]
                prep.append(time.perf_counter() - t)
            t = time.perf_counter()
            wants = [m.expect(ctx, st) for m, st in zip(mods, states)]
            human["oracle_s"] = (time.perf_counter() - t, "s")
            t = time.perf_counter()
            # the parts of a workload warm up side by side: each waits on
            # the driver and the JVM more than on the cores
            with ctx.untraced(True), ThreadPoolExecutor(len(mods)) as pool:
                for f in [pool.submit(m.warmup, ctx, st) for m, st in zip(mods, states)]:
                    f.result()
            ctx._seen.clear()
            warmup_s = time.perf_counter() - t
            setup_s = get_spark_s + median(prep) + warmup_s

            t = time.perf_counter()
            for m, st, want in zip(mods, states, wants):
                m.measure(ctx, st, want)
            elapsed = time.perf_counter() - t

            for m, st in zip(mods, states):
                human.update(m.end_to_end(ctx, st))
                if args.trace:
                    layer.update(m.per_layer(ctx, st))
            if args.trace:
                layer.update(_job_layer(jobs.counts()))
        finally:
            stop_spark(spark)

    for kind, lat in rec.samples.items():
        tail_v, tail_p, n = tail(lat)
        human.update(
            {
                "%s_p50_s" % kind: (median(lat), "s"),
                "%s_tail_s" % kind: (tail_v, "s"),
                "%s_tail_percentile" % kind: (tail_p, "%"),
                "%s_samples" % kind: (n, "count"),
            }
        )
    # the variants of a workload differ in cost several-fold, so a median
    # over all ops jumps between variants; each variant's own median,
    # combined by geometric mean, weighs every variant alike. A variant
    # runs one to five times a run, too few for a tail of its own: tails
    # are printed per op kind only, with their percentile and sample count
    by_sub = {}
    for k, sub, plain, _, dt in rec.log:
        if not plain:
            by_sub.setdefault((k, sub), []).append(dt)
    every = rec.all_samples()
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_gmean_s": (gmean([median(xs) for xs in by_sub.values()]), "s"),
        "ops_per_min": (60.0 * len(every) / sum(every) if every else 0.0, "1/min"),
    }
    human.update(
        {
            "get_spark_s": (get_spark_s, "s"),
            "prep_s": (median(prep), "s"),
            "warmup_s": (warmup_s, "s"),
            "measured_s": (elapsed, "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "ops_failed_frac": (rec.failed / max(rec.attempted, 1), "frac"),
        }
    )
    human.update({"%s.%s_p50_s" % key: (median(xs), "s") for key, xs in by_sub.items()})
    if args.trace:
        layer["session.get_spark_s"] = get_spark_s
        layer["trace.overhead_frac"] = rec.trace_overhead()
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, "trace-%s-seed%d.json" % (args.workload, args.seed)))
        for name, secs in sorted(tracer.self_times().items()):
            human["self_s." + name] = (secs, "s")
    return e2e, human, layer, rec


def _job_layer(counts):
    """Spark job/stage/task counts per query (its build plus its
    execution) and per commit."""
    from measure import median

    out = {}
    per_query, build_jobs, per_commit = [], [], []
    for label, runs in counts.items():
        kind, _, name = label.partition(":")
        if kind == "query":
            builds = counts.get("build:" + name, [])
            if len(builds) == len(runs):
                runs = [tuple(a + b for a, b in zip(r, bld)) for r, bld in zip(runs, builds)]
            per_query.extend(runs)
            out["queries.%s.jobs" % name] = median([r[0] for r in runs])
        elif kind == "build":
            build_jobs.extend(r[0] for r in runs)
        elif kind == "commit":
            per_commit.extend(r[0] for r in runs)
    if per_query:
        out["spark.jobs_per_query"] = median([r[0] for r in per_query])
        out["spark.stages_per_query"] = median([r[1] for r in per_query])
        out["spark.tasks_per_query"] = median([r[2] for r in per_query])
        out["spark.build_jobs"] = median(build_jobs)
    if per_commit:
        out["publish.jobs_per_commit"] = median(per_commit)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--inject", default="", help="test hook: corrupt,raise")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bamboo_spark", "__init__.py")):
        print("perfbench: no bamboo_spark package under %s" % ROOT, file=sys.stderr)
        return 2
    work = os.path.join(OUT, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        e2e, human, layer, rec = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for name, (value, unit) in sorted({**human, **e2e}.items()):
        print("%-44s %14.6g %s" % (name, value, unit))
    for line in rec.failures:
        print("failed: " + line)
    if args.trace:
        metrics = {
            m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
