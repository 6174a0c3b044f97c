"""Per-layer metrics of a traced run, from three sources: the driver
spans (tracing.Tracer), the worker span sums the traced daemon wrote,
and the Spark event log. Each metric is computed per timed iteration;
the run reports the median over its iterations. Names, units and
directions are BENCHMARK.json's; metrics.json adds each metric's layer,
the end-to-end metric it should move, the workloads it is measured on,
and a note.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from perfbench import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))

FETCH_STAGE = "stage:_make_fetch_stage.<locals>.fetch_stage"
ROBOTS_STAGE = "stage:fetch_robots.<locals>.stage"
ROBOTS_UDF = "udf:_robots_gate.<locals>.allowed_udf"
# SeenFilter.novel's bloom probe; it sees every candidate key once the
# seen set is not empty
PROBE_UDF = "udf:SeenFilter.novel.<locals>.maybe_seen"


def benchmark() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def layer_map() -> dict:
    with open(os.path.join(HERE, "metrics.json")) as f:
        return json.load(f)


def units() -> dict:
    bench = benchmark()
    return {m["name"]: m["unit"]
            for m in bench["end_to_end"] + bench["per_layer"]}


def load_worker_sums(trace_dir: str) -> list:
    rows = []
    for path in glob.glob(os.path.join(trace_dir, "worker-*.jsonl")):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f)
    return rows


class _Sums:
    """Worker span sums of one iteration, by span name."""

    def __init__(self, rows: list):
        self.by_name: dict = {}
        for r in rows:
            e = self.by_name.setdefault(
                r["name"], {"calls": 0, "items": 0, "total_s": 0.0,
                            "self_s": 0.0, "extra": 0})
            for k in e:
                e[k] += r[k]

    def get(self, name: str, key: str):
        return self.by_name.get(name, {}).get(key, 0)

    def stages(self):
        """Python stage and UDF spans (their batch counts excluded)."""
        return {n: e for n, e in self.by_name.items()
                if n.startswith(("stage:", "udf:")) and not n.endswith(":in")}


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def _window_stage(stage: dict) -> bool:
    return any(s.startswith("Window") for s in stage["scopes"])


def one_iteration(log, worker_rows: list, tracer, it: dict,
                  index: int) -> dict:
    t0, t1 = it["t0"] * 1000, it["t1"] * 1000
    jobs = log.jobs_between(t0, t1)
    groups = {j["group"] for j in jobs}
    w = _Sums([r for r in worker_rows if r["group"] in groups])
    engine = eventlog.summarize(log, jobs)
    sched = eventlog.summarize(log, jobs, _window_stage)
    rounds = eventlog.crawl_rounds(log, jobs)
    root = next(s for s in tracer.spans if s["name"] == "iteration"
                and s["attrs"].get("index") == index)
    spans = tracer.descendants(root)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(name):
        return sum(s["t1"] - s["t0"] for s in named(name))

    stats = it["stats"]
    python_busy = sum(e["total_s"] for e in w.stages().values())
    adds = named("seen.add")
    first_keys = adds[0]["attrs"]["keys"] if adds else 0
    all_keys = adds[-1]["attrs"]["keys"] if adds else 0
    candidates = first_keys + w.get(PROBE_UDF + ":in", "items")
    links = w.get("html2text:links", "items")
    m = {
        "failed_frac": _ratio(it["failed"], it["items"]),
        "urlnorm.urls": w.get("urlnorm", "items"),
        "urlnorm.busy_s": w.get("urlnorm", "total_s"),
        "urlnorm.urls_per_busy_s": _ratio(w.get("urlnorm", "items"),
                                          w.get("urlnorm", "total_s")),
        "arrow.python_stage_share": _ratio(engine["python_stage_run_s"],
                                           engine["executor_run_s"]),
        "arrow.batches": sum(e["extra"] for n, e in w.by_name.items()
                             if n.endswith(":in")),
        "schedule.shuffle_write_bytes": eventlog.feeding_shuffle_write(
            log, jobs, _window_stage),
        "schedule.task_skew": sched["task_skew"] if sched["stages"] else 0.0,
        "crawl.rounds": len(rounds),
        "crawl.jobs_per_round": _ratio(sum(r["jobs"] for r in rounds),
                                       len(rounds)),
        "crawl.round_s_p50": statistics.median(
            [r["wall_s"] for r in rounds]) if rounds else 0.0,
        "crawl.round_s_max": max([r["wall_s"] for r in rounds], default=0.0),
        "crawl.driver_gap_s": sum(r["gap_s"] for r in rounds),
        "fetch.jobs": w.get(FETCH_STAGE + ":in", "items"),
        "fetch.fetcher_calls": w.get("fetcher", "calls"),
        "fetch.busy_s": w.get(FETCH_STAGE, "total_s"),
        "fetcher.busy_s": w.get("fetcher", "total_s"),
        "httpproto.busy_s": w.get("httpproto", "total_s"),
        "cookies.busy_s": w.get("cookies", "total_s"),
        "html2text.bytes_in": w.get("html2text", "items"),
        "html2text.busy_s": w.get("html2text", "total_s"),
        "links.extracted": links,
        "links.novel_frac": _ratio(stats.get("deeper_rows", 0), links),
        "robots.hosts_fetched": w.get("robots.fetcher", "calls"),
        "robots.busy_s": w.get(ROBOTS_STAGE, "total_s")
        + w.get(ROBOTS_UDF, "total_s"),
        "robots.denied": stats.get("robots_denied", 0),
        "seen.candidates": candidates,
        "seen.novel_frac": _ratio(all_keys, candidates),
        "seen.novel_s": dur("seen.novel"),
        "seen.add_s": dur("seen.add"),
        "seen.shards_written": len(named("seen.write_shard")),
        "seen.bytes_written": stats.get("seen_bytes", 0),
        "snapshots.commits": len(named("snapshots.commit")),
        "snapshots.commit_s": dur("snapshots.commit"),
        "snapshots.bytes_written": stats.get("snapshot_bytes", 0),
        "spark.python_share": _ratio(python_busy, engine["executor_run_s"]),
    }
    for key in ("jobs", "stages", "tasks", "task_failures", "executor_run_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "gc_s", "task_skew"):
        m["spark." + key] = engine[key]
    return m


def per_layer(tracer, iterations: list, run_dir: str) -> dict:
    (log_path,) = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    log = eventlog.parse(log_path)
    rows = load_worker_sums(os.path.join(run_dir, "trace"))
    per_iter = [one_iteration(log, rows, tracer, it, i)
                for i, it in enumerate(iterations)]
    return {k: statistics.median(m[k] for m in per_iter)
            for k in per_iter[0]}


def write_report(path: str, tracer, run_dir: str, metrics: dict) -> None:
    """The traced run's spans, written once at its end: every driver
    span with its self time, and the worker span sums by name."""
    worker = _Sums(load_worker_sums(os.path.join(run_dir, "trace")))
    with open(path, "w") as f:
        json.dump({
            "metrics": metrics,
            "driver_spans": [dict(s, self_s=tracer.self_time(s))
                             for s in tracer.spans],
            "worker_spans": worker.by_name,
        }, f, indent=1)


def overhead(plain: dict, traced: dict) -> dict:
    return {
        "trace_overhead.items_per_s":
            _ratio(plain["items_per_s"] - traced["items_per_s"],
                   plain["items_per_s"]),
        "trace_overhead.setup_s":
            _ratio(traced["setup_s"] - plain["setup_s"], plain["setup_s"]),
        "trace_overhead.peak_rss_mb":
            _ratio(traced["peak_rss_mb"] - plain["peak_rss_mb"],
                   plain["peak_rss_mb"]),
    }


def table(workload: str, metrics: dict) -> str:
    """Human-readable per-layer view: value, unit, and the end-to-end
    metric and workloads each layer metric should move."""
    lines = ["%-30s %14s %-8s %-12s %s" % ("metric (%s)" % workload, "value",
                                          "unit", "moves", "on")]
    layer = layer_map()
    for m in benchmark()["per_layer"]:
        info = layer[m["name"]]
        lines.append("%-30s %14.6g %-8s %-12s %s" % (
            m["name"], metrics[m["name"]], m["unit"], info["moves"],
            ",".join(info["on"])))
    return "\n".join(lines)
