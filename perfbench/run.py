"""Link-graph benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one ``metric`` line per figure and,
last, one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

from probes import NoiseSample, Tracer, jvm_peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORKLOADS = ("corpus", "hub_resume")
SETUPS = 3                  # set-ups per run; setup_s is their median
DRIVER_MEM = "6g"           # well below physical RAM (the library default is 24g)

# end-to-end metrics gated by BENCHMARK.json: every workload has them
END_TO_END = {"setup_s": "s", "job_s": "s", "ingest_s": "s", "compute_s": "s"}
# printed by name in every run, reported per layer in traced runs, but not
# gated: a stage of one workload only, a zero-valued rate, or a figure whose
# run-to-run spread on a 4-core box exceeds the largest allowed bound
STAGES = {"pagerank_s": "s", "pagerank_iters_per_s": "1/s", "wcc_s": "s", "cdlp_s": "s",
          "triangles_s": "s", "resume_s": "s", "hub_total_s": "s",
          "ingest_files_per_s": "1/s", "peak_rss_mb": "MB", "scaling_eff": "ratio",
          "error_rate": "ratio"}
SPANS = ("ingest", "pagerank", "wcc", "cdlp", "triangles", "resume")
SPARK_COUNTERS = ("tasks", "task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                  "busy_ratio")
LAYER_METRICS = [
    "session.start_s", "session.first_job_s",
    "iceberg.plan_s", "iceberg.files_planned",
    "corpus.ingest_s", "corpus.import_tokens", "corpus.resolve_s",
    "corpus.resolved_edges", "corpus.resolve_ratio",
    "graph.vertex_map_s", "graph.edge_cache_s", "graph.partition_skew",
    "graph.sym_edges_s", "graph.oriented_edges_s", "graph.out_degrees_s",
    "graph.max_in_degree",
    "superstep.steps", "superstep.step_ms_p50", "superstep.step_ms_max",
    "superstep.first_step_ms", "superstep.driver_s", "superstep.checkpoints",
    "superstep.checkpoint_ms", "superstep.checkpoint_mb", "superstep.resume_load_s",
    "superstep.leaked_rdds",
    "pagerank.iterations", "pagerank.max_abs_err", "wcc.supersteps", "wcc.messages",
    "wcc.sparse_steps", "cdlp.rounds", "triangles.oriented_edges", "triangles.wedges",
    *[f"{s}.spark.{c}" for s in SPANS for c in SPARK_COUNTERS],
    *[f"self.{layer}_s" for layer in ("bench", "ingest", "iceberg", "corpus", "graph",
                                      "operators", "superstep")],
    "trace.job_s", "trace.overhead_s", "trace.spans",
    "scaling.step_ms_1", "scaling.step_ms_n",
    "noise.steal_ratio", "noise.rtt_us",
    *[f"e2e.{k}" for k in STAGES],
]


def pin_environment() -> dict:
    """Pin the process environment; return the extra Spark confs."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM     # read by build_session
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)    # would override spark.local.dir
    return {"spark.local.dir": local,
            # no hsperfdata file under /tmp: the JVM writes only inside CACHE
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false"}


class Bench:
    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.conf = pin_environment()
        self.spark = None
        self.noise: list[dict] = []

    def settings(self) -> dict:
        return {"master": f"local[{self.cores}]",
                "spark.sql.shuffle.partitions": self.cores,
                "spark.default.parallelism": self.cores,
                "spark.driver.memory": DRIVER_MEM, **self.conf,
                **{k: os.environ[k] for k in ("PYTHONPATH", "PYSPARK_PYTHON", "TMPDIR")}}

    # ---- sessions ----------------------------------------------------------

    def start(self, cores: int) -> tuple[float, float]:
        from graphscope_spark import build_session

        t0 = time.perf_counter()
        # the partition count stays at the full core count in every leg, so
        # a smaller master runs the same tasks on fewer cores
        self.spark = build_session(cpus=cores, app_name="perfbench",
                                   shuffle_partitions=self.cores, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(1).count()
        return t1 - t0, time.perf_counter() - t1

    def load_input(self, root: str) -> float:
        from graphscope_spark import IcebergLite

        t0 = time.perf_counter()
        IcebergLite(os.path.join(root, "table")).read(self.spark).count()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the driver JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()      # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ---- the run -------------------------------------------------------------

    def stored_edges(self, root: str):
        """The workload's graph as a (src, dst) dense-id edge table."""
        from graphscope_spark import IcebergLite

        if self.args.workload == "corpus":
            return self.spark.read.parquet(os.path.join(root, "dense.parquet"))
        return IcebergLite(os.path.join(root, "table")).read(self.spark)

    def run(self) -> dict:
        import inputs

        args = self.args
        start_s, first_s = self.start(self.cores)
        root = inputs.prepare(self.spark, args.workload, args.seed,
                              os.path.join(CACHE, "inputs"))
        setups = [start_s + first_s + self.load_input(root)]
        for _ in range(SETUPS - 1):
            self.stop()
            a, b = self.start(self.cores)
            setups.append(a + b + self.load_input(root))

        samples, traced, failed, tracers = [], [], 0, []
        attempted = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds or attempted == 0:
            res = self.one_job(root, bool(args.trace), tracers)
            attempted += 1
            if res is None:
                failed += 1
            else:
                (traced if args.trace else samples).append(res)

        # scaling (traced runs only): the same PageRank supersteps on the same
        # graph at local[1], against the jobs' own supersteps at local[cores]
        step_1 = None
        if args.trace:
            from jobs import scaling_leg

            self.stop()
            self.start(1)
            step_1 = scaling_leg(self.spark, self.stored_edges(root))
        rss = jvm_peak_rss_mb(self.spark)
        meta = inputs.load_meta(root)

        return {"setups": setups, "session_start_s": start_s, "session_first_job_s": first_s,
                "samples": samples, "traced": traced, "tracers": tracers,
                "attempted": attempted, "failed": failed, "meta": meta,
                "step_ms_1": step_1, "peak_rss_mb": rss}

    def one_job(self, root: str, trace: bool, tracers: list) -> dict | None:
        from jobs import corpus_job, hub_job

        tr = Tracer(self.spark, trace, self.cores)
        try:
            with NoiseSample() as noise:
                if self.args.workload == "corpus":
                    res = corpus_job(self.spark, root, tr)
                else:
                    res = hub_job(self.spark, root, tr, os.path.join(CACHE, "work"))
        except Exception:
            traceback.print_exc()
            return None
        self.noise.append({"job": len(self.noise), "traced": trace,
                           "steal_ratio": noise.steal, "rtt_us": noise.rtt_us,
                           "job_s": res["job_s"]})
        if trace:
            tracers.append(tr)
        return res


def _median(samples: list[dict], key: str, default=0.0) -> float:
    vals = [s[key] for s in samples if key in s]
    return float(statistics.median(vals)) if vals else default


def end_to_end(r: dict) -> dict:
    s = r["samples"] or r["traced"]
    return {"setup_s": statistics.median(r["setups"]), "job_s": _median(s, "job_s"),
            "ingest_s": _median(s, "ingest_s"), "compute_s": _median(s, "compute_s")}


def stages(r: dict, workload: str, cores: int) -> dict:
    """The ungated figures; None where the workload has no such stage."""
    s = r["samples"] or r["traced"]
    out = {k: _median(s, k, None) for k in ("pagerank_s", "wcc_s", "cdlp_s",
                                             "triangles_s", "resume_s")}
    # from the median superstep, so one slow step does not move it
    step_ms = _median(s, "scaling.step_ms_n", None)
    out["pagerank_iters_per_s"] = 1e3 / step_ms if step_ms else None
    out["hub_total_s"] = out["pagerank_s"] if workload == "hub_resume" else None
    out["ingest_files_per_s"] = (r["meta"]["files"] / _median(s, "ingest_s")
                                 if workload == "corpus" and s else None)
    out["peak_rss_mb"] = r["peak_rss_mb"]
    out["scaling_eff"] = r["step_ms_1"] / step_ms / cores if r["step_ms_1"] and step_ms \
        else None
    out["error_rate"] = r["failed"] / r["attempted"]
    return out


def per_layer(r: dict, workload: str, noise: list[dict], cores: int) -> dict:
    t = r["traced"]
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    for name in LAYER_METRICS:
        if any(name in x for x in t):
            out[name] = _median(t, name)
    out["session.start_s"] = r["session_start_s"]
    out["session.first_job_s"] = r["session_first_job_s"]
    for sp in SPANS:
        vals = {c: [] for c in SPARK_COUNTERS}
        for tr in r["tracers"]:
            for span in tr.spans:
                if span.name == sp and span.spark:
                    for c in SPARK_COUNTERS:
                        vals[c].append(span.spark[c])
        for c in SPARK_COUNTERS:
            if vals[c]:
                out[f"{sp}.spark.{c}"] = statistics.median(vals[c])
    selfs: dict[str, list] = {}
    for tr in r["tracers"]:
        for layer, sec in tr.self_seconds().items():
            selfs.setdefault(layer, []).append(sec)
    for layer, v in selfs.items():
        out[f"self.{layer}_s"] = statistics.median(v)
    out["trace.spans"] = statistics.median([len(tr.spans) for tr in r["tracers"]] or [0])
    out["trace.job_s"] = _median(t, "job_s")
    out["trace.overhead_s"] = statistics.median([tr.overhead_s for tr in r["tracers"]] or [0])
    out["scaling.step_ms_1"] = r["step_ms_1"]
    out["noise.steal_ratio"] = max(n["steal_ratio"] for n in noise)
    out["noise.rtt_us"] = max(n["rtt_us"] for n in noise)
    for k, v in stages(r, workload, cores).items():
        if v is not None:
            out[f"e2e.{k}"] = v
    return out


def write_trace(r: dict, args) -> str:
    path = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump([[s.as_dict() for s in tr.spans] for tr in r["tracers"]], f)
    return path


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "graphscope_spark", "__init__.py")):
        print(f"graphscope_spark not found next to {HERE}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    bench = Bench(args)
    try:
        r = bench.run()
    finally:
        bench.shutdown()

    for k, v in bench.settings().items():
        print(f"setting {k} = {v}")
    print(f"input {json.dumps(r['meta'], sort_keys=True)}")
    for n in bench.noise:
        print(f"sample {json.dumps(n, sort_keys=True)}")
    print(f"jobs attempted = {r['attempted']} failed = {r['failed']} "
          f"(untraced samples {len(r['samples'])}, traced {len(r['traced'])})")
    e2e = end_to_end(r)
    for k, v in e2e.items():
        print(f"metric {k} = {v:.6g} {END_TO_END[k]}")
    for k, v in stages(r, args.workload, bench.cores).items():
        shown = "n/a (not measured in this run)" if v is None else f"{v:.6g} {STAGES[k]}"
        print(f"metric {k} = {shown}")
    leaked = max((x["superstep.leaked_rdds"] for x in r["samples"] + r["traced"]), default=0)
    if leaked:
        print(f"warning: {leaked} persistent RDD(s) left registered after unpersist_all "
              "(final superstep states); released by the benchmark")
    if args.trace:
        layers = per_layer(r, args.workload, bench.noise, bench.cores)
        for k, v in layers.items():
            print(f"layer {k} = {v:.6g}")
        print(f"trace spans written to {write_trace(r, args)}")
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms") or "step_ms" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_us"):
        return "us"
    if name.endswith(("ratio", "skew", "err", "eff")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
