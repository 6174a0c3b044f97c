"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import eventlog, layers, run, tracing  # noqa: E402
from perfbench.workloads import CrawlDurable, Frontier, crawl_seeds  # noqa: E402


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def spark_log(tmp_path_factory):
    """A traced session: event log on, driver spans installed. Yields
    (spark, tracer, run_dir); the log is complete once spark stops,
    which the last test using it does."""
    from pyspark.sql import SparkSession

    run_dir = str(tmp_path_factory.mktemp("run"))
    os.makedirs(os.path.join(run_dir, "eventlog"))
    os.environ["PYTHONPATH"] = ROOT
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", os.path.join(run_dir, "eventlog"))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    tracer = tracing.Tracer()
    tracing.install_driver_spans(tracer, type(spark.range(1)))
    yield spark, tracer, run_dir
    tracer.restore()
    run.stop_everything(spark)


def test_other_seed_other_inputs_and_checks_pass(spark_log):
    spark, _tracer, run_dir = spark_log
    spark.sparkContext.setJobGroup("test-seeds", "seeds")
    keys = []
    for seed in (1, 2):
        fr = Frontier(seed=seed, run_dir=run_dir, cpus=2)
        fr.n_urls = 3000
        frontier, _seen = fr.generate(spark, 50)
        urls = [r["rawurl"] for r in frontier.collect()]
        keys.append(urls)
        fr.prepare(spark)
        r = fr.iterate(spark, 0)
        fr.check(r)
        assert r["problems"] == [] and r["failed"] == 0
    assert keys[0] != keys[1]
    assert crawl_seeds(1, 4, 2) != crawl_seeds(2, 4, 2)
    rows = []
    for seed in (1, 2):
        cr = CrawlDurable(seed=seed, run_dir=run_dir, cpus=2)
        cr.seeds = crawl_seeds(seed, 2, 1)
        cr.prepare(spark)
        r = cr.iterate(spark, seed)
        cr.check(r)
        assert r["problems"] == [] and r["failed"] == 0
        rows.append(r["key"])
    assert rows[0] != rows[1]


def test_event_log_gives_every_stage_a_job_group(spark_log):
    spark, tracer, run_dir = spark_log
    fr = Frontier(seed=7, run_dir=run_dir, cpus=2)
    fr.n_urls = 3000
    fr.prepare(spark)
    spark.sparkContext.setJobGroup("test-frontier", "frontier")
    r = fr.iterate(spark, 0)
    fr.check(r)
    assert r["problems"] == []

    cr = CrawlDurable(seed=7, run_dir=run_dir, cpus=2)
    cr.seeds = crawl_seeds(7, 2, 1)
    cr.prepare(spark)
    spark.sparkContext.setJobGroup("test-crawl", "crawl")
    with tracer.span("iteration", index=0):
        t0 = time.time()
        r = cr.iterate(spark, 0)
    r["t0"], r["t1"] = t0, time.time()
    cr.check(r)
    assert r["problems"] == []
    spark.stop()

    (path,) = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    log = eventlog.parse(path)
    groups = log.stage_groups()
    assert log.stages and set(groups) == set(log.stages)
    assert all(g is not None for g in groups.values())
    assert "test-frontier" in groups.values()
    # the crawl tags its rounds; they are the rounds the parser finds
    rounds = eventlog.crawl_rounds(
        log, log.jobs_between(r["t0"] * 1000, r["t1"] * 1000))
    assert [x["round"] for x in rounds] == [0, 1]

    # every per-layer name but the tracing overhead comes out of the
    # per-iteration computation, with no worker sums at all
    m = layers.one_iteration(log, [], tracer, r, 0)
    names = {x["name"] for x in benchmark_json()["per_layer"]}
    assert set(m) | set(layers.overhead(
        {"items_per_s": 1, "setup_s": 1, "peak_rss_mb": 1},
        {"items_per_s": 1, "setup_s": 1, "peak_rss_mb": 1})) == names
    assert m["seen.candidates"] > 0 and m["snapshots.commits"] == 2


def test_busy_union_and_rounds_on_synthetic_log():
    tasks = [{"launch": 0, "finish": 10}, {"launch": 5, "finish": 20},
             {"launch": 40, "finish": 50}]
    assert eventlog.busy_union_ms(tasks, 0, 100) == 30
    assert eventlog.busy_union_ms(tasks, 8, 45) == 17
    assert eventlog.task_skew([{"launch": 0, "finish": 10},
                               {"launch": 0, "finish": 10},
                               {"launch": 0, "finish": 40}]) == 4.0


def test_feeding_shuffle_write_follows_a_skipped_parent():
    # job 1 ran stage 3's shuffle; job 2 lists it again as stage 4,
    # skipped, and its Window stage 5 names stage 4 as parent
    log = eventlog.EventLog(
        jobs={1: {"id": 1, "group": "g", "stage_ids": [3]},
              2: {"id": 2, "group": "g", "stage_ids": [4, 5]}},
        stages={3: {"id": 3, "parents": [], "scopes": ["Exchange"]},
                5: {"id": 5, "parents": [4], "scopes": ["Window"]}},
        tasks={3: [{"shuffle_write": 40}, {"shuffle_write": 2}],
               5: [{"shuffle_write": 7}]},
        stage_rdd={3: 17, 4: 17, 5: 22},
    )
    assert eventlog.feeding_shuffle_write(
        log, list(log.jobs.values()),
        lambda s: "Window" in s["scopes"]) == 42


def test_every_per_layer_metric_has_a_layer_entry():
    bench = benchmark_json()
    layer = layers.layer_map()
    workloads = {w["name"] for w in bench["workloads"]}
    e2e = {m["name"] for m in bench["end_to_end"]}
    for m in bench["per_layer"]:
        info = layer[m["name"]]
        assert set(info["on"]) <= workloads and info["moves"] in e2e


def test_stop_everything_leaves_no_process(tmp_path):
    # in a fresh process: a session with Python workers, then the
    # benchmark's shutdown; the JVM, the daemon and its workers are gone
    # before it returns
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from perfbench import run\n"
        "run.become_subreaper()\n"
        "spark = run.new_session(2, %r, traced=False)\n"
        "spark.range(100).mapInPandas(lambda it: it, 'id long').collect()\n"
        "assert run.descendants()\n"
        "run.stop_everything(spark)\n"
        "print(len(run.descendants()))\n" % (ROOT, str(tmp_path))
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "0"


def _run(*args) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_printed_metric_names_match_benchmark_json():
    bench = benchmark_json()
    plain = _run("--workload", "frontier", "--seed", "5", "--seconds", "1",
                 "--trace", "0")
    assert plain["correct"] and plain["failed"] == 0
    assert plain["metrics"] == {
        m["name"]: {"value": plain["metrics"][m["name"]]["value"],
                    "unit": m["unit"]}
        for m in bench["end_to_end"]}
    traced = _run("--workload", "frontier", "--seed", "5", "--seconds", "1",
                  "--trace", "1")
    assert traced["correct"]
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]}
    assert traced["metrics"]["urlnorm.urls"]["value"] >= Frontier.n_urls


