"""Spans around topn_spark's public functions, Spark jobs labelled by
span, and the per-layer split of a traced run.

A span records name, start, end, parent and the entry it belongs to.
While a span is open, the Spark jobs it starts carry its id as their
job group, so the event log ties each job (and its stages and tasks)
to the innermost span that started it.  Spans stay in memory; the
caller writes them out when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import pkgutil
import statistics
import sys
import time
from contextlib import contextmanager

from pyspark import SparkContext

from perfbench.stats import self_times, union_s


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: Add to a ``perf_counter`` reading to get epoch seconds, the
        #: clock of the event log.
        self.clock_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "entry": parent["entry"] if parent else None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(str(s["id"]), name)
        s["t0"] = time.perf_counter()
        try:
            yield s
        finally:
            s["t1"] = time.perf_counter()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(str(parent["id"]), parent["name"])

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` and every ``from … import`` binding of
        it in topn_spark's modules, where callers look it up."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("topn_spark"):
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, traced)

    def install(self) -> None:
        """Wrap the public entry points and every public operator."""
        import topn_spark.operators as ops
        # Loaded before patching, so their ``from … import`` bindings are rebound too.
        from topn_spark import catalog, pipelines, queries, queries_ext  # noqa: F401
        from topn_spark.streaming import ingest

        for info in pkgutil.iter_modules(ops.__path__):
            __import__(f"{ops.__name__}.{info.name}")
            mod = sys.modules[f"{ops.__name__}.{info.name}"]
            for attr, fn in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    self.patch(mod, attr, f"operators.{info.name}.{attr}")
        self.patch(catalog, "load_table", "catalog.load_table")
        self.patch(pipelines, "run_pipeline_with_source", "pipelines.run")
        self.patch(ingest, "bin_export_batch", "streaming.commit")


def read_event_log(path: str) -> tuple[dict, dict]:
    """Jobs and stages from a Spark JSON event log.

    Jobs: group, start, end (epoch s), stage ids.  Stages: task count,
    start, end, failed tasks, and task metrics summed over the stage's
    tasks, Python-worker SQL metrics included (by accumulator name).
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {"metrics": {}, "failed": 0})

    with open(path) as fh:
        for ln in fh:
            ev = json.loads(ln)
            e = ev["Event"]
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"] / 1000.0,
                    "stages": ev["Stage IDs"],
                }
            elif e == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                s = stage(si["Stage ID"])
                s["tasks"] = si["Number of Tasks"]
                s["t0"] = si["Submission Time"] / 1000.0
                s["t1"] = si["Completion Time"] / 1000.0
            elif e == "SparkListenerTaskEnd":
                s = stage(ev["Stage ID"])
                if ev["Task End Reason"]["Reason"] != "Success":
                    s["failed"] += 1
                m = s["metrics"]
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                for k, v in (
                    ("run_ms", tm.get("Executor Run Time", 0)),
                    ("cpu_ns", tm.get("Executor CPU Time", 0)),
                    ("gc_ms", tm.get("JVM GC Time", 0)),
                    ("deser_ms", tm.get("Executor Deserialize Time", 0)),
                    ("fetch_wait_ms", sr.get("Fetch Wait Time", 0)),
                    ("shuffle_read_b", sr.get("Remote Bytes Read", 0)
                     + sr.get("Local Bytes Read", 0)),
                    ("shuffle_write_b", sw.get("Shuffle Bytes Written", 0)),
                    ("input_b", (tm.get("Input Metrics") or {}).get("Bytes Read", 0)),
                ):
                    m[k] = m.get(k, 0) + v
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name") or ""
                    if name in PYTHON_METRICS:
                        m[name] = m.get(name, 0) + float(acc.get("Update") or 0)
    return jobs, stages


#: Python-worker SQL metrics of Spark 4.1 and their per-layer names.
#: Times are in milliseconds; sizes are bytes.
PYTHON_METRICS = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "data sent to Python workers": ("python.sent_mb", 1e-6),
    "data returned from Python workers": ("python.returned_mb", 1e-6),
}

#: Spans that own a layer of their own, and the per-layer names of the
#: time spent in them and of the jobs they start.
SPAN_LAYERS = {
    "queries.build": ("queries.build_s", "queries.build_jobs"),
    "pipelines.run": ("pipelines.run_s", "pipelines.jobs"),
    "streaming.commit": ("streaming.commit_s", "streaming.commit_jobs"),
}


def layer_of(name: str) -> str:
    """``operators.dedup.exact_dedup`` → ``operators.dedup``; other
    span names are their own layer."""
    return ".".join(name.split(".")[:2]) if name.startswith("operators.") else name


def _ancestors(by_id: dict, sid: int):
    s = by_id.get(sid)
    while s is not None:
        yield s
        s = by_id.get(s["parent"])


def split_entries(
    spans: list[dict], jobs: dict, stages: dict, clock_offset: float,
    passes: set[int],
) -> list[dict]:
    """One row per entry span of a measured pass: wall time, plan
    phases, the entry's merged job time, the rest (``unattributed``),
    self time per span layer, and the entry's jobs and stages."""
    by_id = {s["id"]: s for s in spans}
    self_t = self_times(spans)
    rows = {
        s["id"]: {
            "name": s["label"], "pass": s["pass"], "wall_s": s["t1"] - s["t0"],
            "plan_ms": s.get("plan_ms", {}), "self_s": {}, "jobs": [],
        }
        for s in spans
        if s["name"] == "entry" and s["pass"] in passes
    }
    for s in spans:
        r = rows.get(s["entry"])
        if r is not None and s["name"] != "entry":
            lay = layer_of(s["name"])
            r["self_s"][lay] = r["self_s"].get(lay, 0.0) + self_t[s["id"]]
    for jid, j in sorted(jobs.items()):
        s = by_id.get(int(j["group"])) if j.get("group") and "t1" in j else None
        if s is not None and s["entry"] in rows:
            rows[s["entry"]]["jobs"].append(jid)
    for r in rows.values():
        r["job_s"] = union_s([(jobs[j]["t0"] - clock_offset, jobs[j]["t1"] - clock_offset)
                              for j in r["jobs"]])
        r["plan_s"] = sum(r["plan_ms"].values()) / 1000.0
        r["unattributed_s"] = r["wall_s"] - r["plan_s"] - r["job_s"]
        r["stages"] = [stages[sid] for j in r["jobs"] for sid in jobs[j]["stages"]
                       if "t1" in stages.get(sid, {})]
    return list(rows.values())


def layer_metrics(
    spans: list[dict], jobs: dict, stages: dict, clock_offset: float,
    cores: int, passes: set[int],
) -> dict[str, float]:
    """Per-layer metrics of the measured ``passes``, per pass (their
    mean), except ``exec.max_stage_s`` (the longest stage) and
    ``exec.core_util`` (a ratio)."""
    by_id = {s["id"]: s for s in spans}
    self_t = self_times(spans)
    entries = split_entries(spans, jobs, stages, clock_offset, passes)
    in_pass = {s["id"] for s in spans
               if s["entry"] is not None and by_id[s["entry"]]["pass"] in passes}
    tot: dict[str, float] = {k: 0.0 for pair in SPAN_LAYERS.values() for k in pair}
    ops = sorted({layer_of(s["name"]) for s in spans if s["name"].startswith("operators.")})
    for op in ops:
        tot[f"{op}_s"] = tot[f"{op}_jobs"] = 0.0

    for s in spans:
        if s["id"] not in in_pass:
            continue
        if s["name"] in SPAN_LAYERS:
            tot[SPAN_LAYERS[s["name"]][0]] += s["t1"] - s["t0"]
        elif s["name"].startswith("operators."):
            tot[f"{layer_of(s['name'])}_s"] += self_t[s["id"]]
    for e in entries:
        for ph in ("analysis", "optimization", "planning"):
            tot[f"plan.{ph}_ms"] = tot.get(f"plan.{ph}_ms", 0.0) + e["plan_ms"].get(ph, 0)
        tot["driver.unattributed_s"] = tot.get("driver.unattributed_s", 0.0) + e["unattributed_s"]

    pass_jobs = [j for j in jobs.values()
                 if j.get("group") and "t1" in j and int(j["group"]) in in_pass]
    for j in pass_jobs:
        names = {a["name"] for a in _ancestors(by_id, int(j["group"]))}
        for span_name, (_, key) in SPAN_LAYERS.items():
            tot[key] += span_name in names
        op = next((a for a in _ancestors(by_id, int(j["group"]))
                   if a["name"].startswith("operators.")), None)
        if op is not None:
            tot[f"{layer_of(op['name'])}_jobs"] += 1

    done = [stages[sid] for j in pass_jobs for sid in j["stages"]
            if "t1" in stages.get(sid, {})]
    sums: dict[str, float] = {}
    for s in done:
        for k, v in s["metrics"].items():
            sums[k] = sums.get(k, 0) + v
    job_s = union_s([(j["t0"], j["t1"]) for j in pass_jobs])
    tot.update({
        "exec.jobs": len(pass_jobs),
        "exec.stages": len(done),
        "exec.tasks": sum(s["tasks"] for s in done),
        "exec.single_task_stages": sum(s["tasks"] == 1 for s in done),
        "exec.failed_tasks": sum(s["failed"] for s in done),
        "exec.job_s": job_s,
        "exec.task_cpu_s": sums.get("cpu_ns", 0) / 1e9,
        "exec.task_gc_s": sums.get("gc_ms", 0) / 1e3,
        "exec.task_deser_s": sums.get("deser_ms", 0) / 1e3,
        "exec.fetch_wait_s": sums.get("fetch_wait_ms", 0) / 1e3,
        "exec.shuffle_read_mb": sums.get("shuffle_read_b", 0) / 1e6,
        "exec.shuffle_write_mb": sums.get("shuffle_write_b", 0) / 1e6,
        "exec.input_mb": sums.get("input_b", 0) / 1e6,
    })
    for src, (key, scale) in PYTHON_METRICS.items():
        tot[key] = sums.get(src, 0) * scale
    m = {k: v / len(passes) for k, v in tot.items()}
    m["exec.max_stage_s"] = max((s["t1"] - s["t0"] for s in done), default=0.0)
    m["exec.core_util"] = sums.get("run_ms", 0) / 1e3 / (job_s * cores) if job_s else 0.0
    return m


def entry_table(entries: list[dict]) -> list[dict]:
    """Per entry name, medians over the measured passes, slowest first,
    with the layer that dominates the entry's wall time: ``plan``
    (Catalyst phases), ``exec`` (Spark jobs, merged) or ``driver``
    (the rest), and the span layer with the most self time."""
    by_name: dict[str, list[dict]] = {}
    for e in entries:
        by_name.setdefault(e["name"], []).append(e)
    out = []
    for name, es in by_name.items():
        row = {"entry": name}
        for k in ("wall_s", "plan_s", "job_s", "unattributed_s"):
            row[k] = statistics.median(e[k] for e in es)
        row["jobs"] = statistics.median(len(e["jobs"]) for e in es)
        row["stages"] = statistics.median(len(e["stages"]) for e in es)
        row["dominant"] = max(
            (("plan", row["plan_s"]), ("exec", row["job_s"]),
             ("driver", row["unattributed_s"])), key=lambda kv: kv[1])[0]
        self_s: dict[str, float] = {}
        for e in es:
            for k, v in e["self_s"].items():
                self_s[k] = self_s.get(k, 0.0) + v / len(es)
        row["top_span"] = max(self_s.items(), key=lambda kv: kv[1], default=("-", 0.0))
        out.append(row)
    return sorted(out, key=lambda r: -r["wall_s"])


def unit_of(metric: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_util", "ratio"), ("_amp", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


def render_table(workload: str, layers: dict[str, float], entries: list[dict]) -> str:
    """Markdown: every per-layer metric, then the ten slowest entries."""
    out = [f"### {workload}", "", "| layer metric | per pass | unit |", "|---|---:|---|"]
    out += [f"| `{k}` | {v:.4g} | {unit_of(k)} |" for k, v in sorted(layers.items())]
    out += ["", "| entry | wall s | plan s | exec s | driver s | jobs | stages"
            " | dominant | most self time |", "|---|---:|---:|---:|---:|---:|---:|---|---|"]
    for r in entries[:10]:
        span, t = r["top_span"]
        out.append(
            f"| {r['entry']} | {r['wall_s']:.3f} | {r['plan_s']:.3f} | {r['job_s']:.3f}"
            f" | {r['unattributed_s']:.3f} | {r['jobs']:g} | {r['stages']:g}"
            f" | {r['dominant']} | `{span}` {t:.3f} s |"
        )
    return "\n".join(out) + "\n"


def write_spans(spans: list[dict], path: str) -> None:
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(s) + "\n")
