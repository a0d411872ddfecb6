"""Layered benchmark for topn_spark: one closed-loop client per workload.

    python3 perfbench/run.py --workload survey --seed 1 --seconds 10 --trace 0

One process runs one entry at a time; the next entry starts only after
the previous one returns.  Every output is checked against its DuckDB
oracle outside the timed region.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Lines before it echo the settings and the raw figures.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Scale and seed of the base tables every workload reads.
BASE_SF = 0.01
BASE_SEED = 42
#: Driver heap: fits a 15 GB box with room for the Python workers.
HEAP = "3g"
#: Young generation.  It and the heap are fixed (-Xms = -Xmx, -Xmn), so
#: G1 neither grows the heap nor resizes eden on pause timings: left to
#: do so, it spread survey's peak_rss_mb by a quarter across runs.
YOUNG = "1g"

#: The commit stream: z132's document set and shard layout.  One run is
#: one stream: the documents are cut into seed-chosen batches, one per
#: commit, and the shards read back after the last commit must equal
#: z132's oracle.
Z132 = "z132_streaming_bin_maintenance"
Z132_DOCS, Z132_SHARDS = 250, 6

#: Each commit's batch goes through a one-stage pipeline spec that
#: turns text into z132's token-length sequences and loss masks.
PREP_SPEC = {
    "stages": [
        {"name": "src", "type": "batchsource", "plugin": "File",
         "properties": {"path": "<injected>"}},
        {"name": "prep", "type": "transform", "plugin": "SQL",
         "properties": {"query": (
             "SELECT doc_id, tokens, transform(tokens, t -> t >= 4) AS loss_mask"
             " FROM (SELECT doc_id, transform(regexp_extract_all(lower(text),"
             " '[a-z0-9]+', 0), t -> CAST(length(t) AS BIGINT)) AS tokens"
             " FROM ${input}) WHERE size(tokens) > 0")}},
    ],
    "connections": [{"from": "src", "to": "prep"}],
}


@dataclass(frozen=True)
class Workload:
    entries: tuple[str, ...]
    copies: int  # copies of the base tables the entries read
    first_table: str  # the table set-up loads
    warm: int  # passes after the cold pass that are not measured
    passes: int  # measured passes


#: Warm-up and measured passes are fixed, so every run does the same
#: work; they were chosen from recorded pass curves (perfbench/README.md).
WORKLOADS = {
    "survey": Workload(
        tuple(f"q{i:02d}" for i in (1, 4, 6, 12, 16, 17)),
        10, "lineitem", warm=1, passes=3,
    ),
    "pipeline_commit": Workload(("commit0", "commit1"), 1, "documents", warm=1, passes=6),
}

#: Per-layer metrics of a traced run, in the order of BENCHMARK.json.
PER_LAYER = [
    "session.start_s", "catalog.load_table_s", "queries.build_s",
    "queries.build_jobs", "plan.analysis_ms", "plan.optimization_ms",
    "plan.planning_ms", "driver.unattributed_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.single_task_stages", "exec.job_s",
    "exec.core_util", "exec.task_cpu_s", "exec.max_stage_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.input_mb",
    "exec.fetch_wait_s", "exec.task_gc_s", "exec.task_deser_s",
    "exec.failed_tasks", "python.run_s", "python.start_s", "python.init_s",
    "python.sent_mb", "python.returned_mb", "operators.topn_s",
    "operators.topn_jobs", "operators.binshard_s",
    "operators.binshard_jobs", "operators.pipeline_s",
    "operators.pipeline_jobs", "pipelines.run_s", "pipelines.jobs",
    "streaming.commit_s", "streaming.commit_jobs",
    "streaming.bytes_written_mb", "streaming.write_amp", "traced.pass_s",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="the run_seconds of BENCHMARK.json: about the time the"
                   " fixed measured passes take; echoed, not used to stop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str, cpus: int) -> None:
    """Environment the JVM and its Python workers inherit: workers
    import topn_spark, so the repo root leads PYTHONPATH; scratch space
    stays inside the run directory."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)


class RssPeak(threading.Thread):
    """Peak resident memory of a process and all its descendants."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak, self._done = pid, 0, threading.Event()

    def _sample(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)], rss[int(d)] = int(f[1]), int(f[21])
        tree, grew = {self.pid}, True
        while grew:
            kids = {p for p, pp in parent.items() if pp in tree} - tree
            tree |= kids
            grew = bool(kids)
        return sum(rss.get(p, 0) for p in tree) * os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._done.wait(0.2):
            self.peak = max(self.peak, self._sample())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return max(self.peak, self._sample()) / 1e6


def stop_session(spark=None) -> None:
    """Stop the session and its JVM, if one runs, and wait for the JVM
    to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "topn_spark")):
        print(f"no topn_spark package beside {os.path.dirname(__file__)}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, cpus)
    sys.path.insert(0, ROOT)
    keep = ("spans.jsonl", "layers.json", "layers.md", "eventlog") if args.trace else ()
    try:
        return Bench(args, cpus, run_dir).run()
    finally:
        if "pyspark" in sys.modules:
            stop_session()
        for f in os.listdir(run_dir):
            if f not in keep:
                p = os.path.join(run_dir, f)
                shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
        if not os.listdir(run_dir):
            os.rmdir(run_dir)


class Bench:
    def __init__(self, args, cpus: int, run_dir: str) -> None:
        self.args, self.cpus, self.run_dir = args, cpus, run_dir
        self.wl = WORKLOADS[args.workload]
        self.stream = args.workload == "pipeline_commit"
        self.rng = random.Random(args.seed)
        self.tracer = None
        self.failures: list[str] = []
        self.attempted = self.commits = 0

    def info(self, **kv) -> None:
        print(json.dumps(kv), flush=True)

    # -- inputs ---------------------------------------------------------
    def make_inputs(self) -> None:
        """Base tables (once per checkout), the seed-shaped copy, and
        the oracle hashes of every entry, all before any timing."""
        from perfbench import datagen
        from topn_spark.queries import QUERIES

        t0 = time.perf_counter()
        base = os.path.join(ROOT, ".perfbench", "data", f"base-sf{BASE_SF}-s{BASE_SEED}")
        if not os.path.isdir(base):
            datagen.make_base(base, BASE_SF, BASE_SEED)
        if self.wl.copies > 1:
            self.data = os.path.join(self.run_dir, f"x{self.wl.copies}")
            datagen.make_copy(base, self.data, self.wl.copies, self.args.seed)
        else:
            self.data = base
        self.duck = datagen.duck(self.data)
        names = [Z132] if self.stream else self.wl.entries
        self.oracles = datagen.oracle_digests(self.duck, [QUERIES[n] for n in names])
        self.info(gen_s=round(time.perf_counter() - t0, 3),
                  data=os.path.relpath(self.data, ROOT))

    # -- session --------------------------------------------------------
    def session(self):
        from topn_spark.session import get_session

        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -Xmn{YOUNG}",
        }
        if self.args.trace:
            evdir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(evdir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_session(app_name="perfbench", driver_memory=HEAP, extra_conf=conf)

    def setup(self) -> dict:
        """Session start in a fresh JVM plus the first table load.  Once
        per run: a set-up costs 7-15 s on a 4-core box, and the run
        budget has room for one."""
        from contextlib import nullcontext

        from pyspark import SparkContext

        from topn_spark import catalog

        t0 = time.perf_counter()
        with self.tracer.span("session.start") if self.tracer else nullcontext():
            self.spark = self.session()
        t1 = time.perf_counter()
        catalog.load_table(self.spark, self.data, self.wl.first_table)
        t2 = time.perf_counter()
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.info(
            setup_s=round(t2 - t0, 3), master=self.spark.sparkContext.master,
            cpus=self.cpus, driver_memory=self.spark.conf.get("spark.driver.memory"),
            pythonpath_root=os.environ["PYTHONPATH"].split(os.pathsep)[0] == ROOT,
            spark_local_dirs=os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        )
        return {"setup_s": t2 - t0, "session.start_s": t1 - t0, "catalog.load_table_s": t2 - t1}

    # -- entries --------------------------------------------------------
    def start_stream(self) -> None:
        """An empty store, and the run's batch boundaries over z132's
        document ids: one batch per commit of every pass.  Each
        boundary sits a seed-chosen distance, at most a third of a
        batch, from an even split: a commit's cost follows how many
        shards its batch touches, so batch sizes stay alike."""
        from pyspark.sql import functions as F

        from topn_spark.catalog import load_table

        self.store = os.path.join(self.run_dir, "z132_store")
        self.dest = os.path.join(self.run_dir, "z132_out")
        n = (1 + self.wl.warm + self.wl.passes) * len(self.wl.entries)
        step = Z132_DOCS / n
        cuts = [round(k * step) + self.rng.randint(-int(step / 3), int(step / 3))
                for k in range(1, n)]
        self.cuts = list(zip([0] + cuts, cuts + [Z132_DOCS]))
        self.docs = load_table(self.spark, self.data, "documents").where(
            F.col("doc_id") < Z132_DOCS).select("doc_id", "text")

    def build(self, name: str):
        """The entry's DataFrame, or None for a commit, which runs the
        stream's next maintenance commit: its batch through
        ``PREP_SPEC`` into ``bin_export_batch``."""
        from pyspark.sql import functions as F

        from topn_spark import pipelines
        from topn_spark.queries import QUERIES
        from topn_spark.streaming import ingest

        if not name.startswith("commit"):
            return QUERIES[name].builder(self.spark, self.data)
        i = self.commits
        self.commits += 1
        lo, hi = self.cuts[i]
        d = F.col("doc_id")
        batch = self.docs.where((d >= lo) & (d < hi))
        prep = pipelines.run_pipeline_with_source(self.spark, PREP_SPEC, "src", batch)["prep"]
        ingest.bin_export_batch(prep, self.store, self.dest, i, Z132_SHARDS,
                                id_col="doc_id", salt="z132")
        return None

    def check(self, name: str, df, rows) -> str | None:
        from tools.check_oracle import canon, check_tolerance
        from topn_spark.queries import QUERIES

        q = QUERIES[name]
        if q.oracle is None:
            return "; ".join(check_tolerance(q, df, rows, self.duck)) or None
        want = self.oracles[name]
        got = (sorted(df.columns), len(rows), canon(rows, df.columns))
        return None if got == want else f"{got[:2]} != {want[:2]}"

    def run_entry(self, name: str, pass_no: int) -> float:
        """Builder call plus ``collect()``, timed; the oracle check runs
        after the clock stops."""
        from contextlib import nullcontext

        span = self.tracer.span if self.tracer else None
        self.attempted += 1
        df = rows = None
        t0 = time.perf_counter()
        try:
            with span("entry", label=name, **{"pass": pass_no}) if span else nullcontext() as s:
                if s is not None:
                    s["entry"] = s["id"]
                with span("queries.build") if span and not self.stream else nullcontext():
                    df = self.build(name)
                if df is not None:
                    with span("collect") if span else nullcontext():
                        rows = df.collect()
            dt = time.perf_counter() - t0
            if s is not None and df is not None:
                ph = df._jdf.queryExecution().tracker().phases()
                s["plan_ms"] = {k: ph.get(k).get().durationMs()
                                for k in ("analysis", "optimization", "planning")
                                if ph.contains(k)}
            problem = None if df is None else self.check(name, df, rows)
        except Exception as exc:  # a failing entry is counted, not fatal
            dt, problem = time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"
        if problem:
            self.failures.append(f"{name}: {problem}"[:300])
        return dt

    def check_stream(self) -> None:
        """After the last commit: the shards read back must equal z132's
        oracle over the whole document set, however the batches were
        cut.  A mismatch fails every commit that has not failed yet."""
        from tools.check_oracle import canon
        from topn_spark.operators import binshard

        try:
            df = binshard.read_bin_shards(self.spark, self.dest)
            rows = df.collect()
            got = (sorted(df.columns), len(rows), canon(rows, df.columns))
            problem = None if got == self.oracles[Z132] else f"{got[:2]} != {self.oracles[Z132][:2]}"
        except Exception as exc:
            problem = f"{type(exc).__name__}: {exc}"
        if problem:
            self.failures += [f"read-back: {problem}"[:300]] * (self.commits - len(self.failures))

    def run_pass(self, pass_no: int) -> dict:
        """Every entry once: in seed order, or in stream order when the
        workload is the commit stream."""
        from perfbench.stats import dir_bytes

        out: dict = {"entries": {}}
        if self.stream:
            order = self.wl.entries
        else:
            order = self.rng.sample(self.wl.entries, len(self.wl.entries))
        for name in order:
            out["entries"][name] = self.run_entry(name, pass_no)
        out["wall"] = sum(out["entries"].values())
        if self.stream:
            out["disk_b"] = dir_bytes(self.store, self.dest)
            out["payload_b"] = dir_bytes(self.dest, suffix=".bin")
        return out

    # -- the run --------------------------------------------------------
    def run(self) -> int:
        from perfbench.stats import tail

        self.make_inputs()
        if self.args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        setup = self.setup()
        if self.stream:
            self.start_stream()
        rss = RssPeak(self.jvm_pid)
        rss.start()
        t0 = time.perf_counter()
        passes = [self.run_pass(p) for p in range(1 + self.wl.warm + self.wl.passes)]
        measured_s = time.perf_counter() - t0
        peak_mb = rss.stop()
        if self.stream:
            self.check_stream()
        self.duck.close()
        curve, measured = passes[:1 + self.wl.warm], passes[1 + self.wl.warm:]
        lat = [t for p in measured for t in p["entries"].values()]
        entry_tail, pct = tail(lat)
        pass_s = statistics.median(p["wall"] for p in measured)
        self.info(
            passes_s=[round(p["wall"], 3) for p in passes], measured_from=len(curve),
            seconds=self.args.seconds, passes_wall_s=round(measured_s, 3),
            entry_samples=len(lat), entry_tail_pct=round(pct, 1),
            entry_median_s={n: round(statistics.median(p["entries"][n] for p in measured), 3)
                            for n in self.wl.entries},
            failed_frac=len(self.failures) / self.attempted, failures=self.failures[:5],
        )
        appid = self.spark.sparkContext.applicationId
        stop_session(self.spark)
        if self.args.trace:
            metrics = self.layers(setup, curve, measured, pass_s, appid)
        else:
            metrics = {
                "setup_s": (setup["setup_s"], "s"),
                "cold_pass_s": (curve[0]["wall"], "s"),
                "pass_s": (pass_s, "s"),
                "entry_p50_s": (statistics.median(lat), "s"),
                "entry_tail_s": (entry_tail, "s"),
                "peak_rss_mb": (peak_mb, "MB"),
            }
        print(json.dumps({
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0

    def layers(self, setup: dict, curve: list[dict], measured: list[dict], pass_s: float,
               appid: str) -> dict:
        """Per-layer metrics from the spans and the event log; writes
        the spans and the layer table into the run directory."""
        from perfbench import trace

        jobs, stages = trace.read_event_log(os.path.join(self.run_dir, "eventlog", appid))
        passes = set(range(len(curve), len(curve) + len(measured)))
        spans, offset = self.tracer.spans, self.tracer.clock_offset
        m = trace.layer_metrics(spans, jobs, stages, offset, self.cpus, passes)
        m.update({k: setup[k] for k in ("session.start_s", "catalog.load_table_s")})
        m["traced.pass_s"] = pass_s
        m["streaming.bytes_written_mb"] = m["streaming.write_amp"] = 0.0
        if self.stream:
            before, last = curve[-1]["disk_b"], measured[-1]
            m["streaming.bytes_written_mb"] = (last["disk_b"] - before) / len(measured) / 1e6
            m["streaming.write_amp"] = last["disk_b"] / last["payload_b"]
        entries = trace.entry_table(trace.split_entries(spans, jobs, stages, offset, passes))
        trace.write_spans(spans, os.path.join(self.run_dir, "spans.jsonl"))
        with open(os.path.join(self.run_dir, "layers.json"), "w") as fh:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "layers": m, "entries": entries}, fh, indent=1)
        table = os.path.join(self.run_dir, "layers.md")
        with open(table, "w") as fh:
            fh.write(trace.render_table(self.args.workload, m, entries))
        self.info(layer_table=os.path.relpath(table, ROOT))
        return {k: (m.get(k, 0.0), trace.unit_of(k)) for k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
