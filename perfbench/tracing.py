"""Spans around calls into minicrawler_spark's public functions.

Driver side, `Tracer` keeps nested spans (name, start, end, parent)
around public calls and materializing actions. Worker side, `Recorder`
sums spans per (Spark job group, span name) inside each Python worker;
`worker_daemon.py` installs it and writes the sums after each task.
A span's self time is its duration minus the time of its child spans.

Everything here is installed only for a traced run; the untraced runs
execute the program unpatched.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time


class Tracer:
    """Driver-side spans, kept in memory until the run ends."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self._patched: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "t0": time.time(),
            "t1": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, only_if=None,
             after=None) -> None:
        """Replace `owner.attr` by a function that runs the original
        inside a span. `only_if(args, kwargs)` limits the span to
        the calls it accepts (the others run unwrapped);
        `after(args, result)` returns attributes to store on the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if only_if is not None and not only_if(args, kwargs):
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
            if after is not None:
                rec["attrs"].update(after(args, result))
            return result

        self.replace(owner, attr, traced)

    def replace(self, owner, attr: str, new) -> None:
        """Set `owner.attr` to `new` until restore()."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def children(self, span: dict) -> list:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def descendants(self, span: dict) -> list:
        out, todo = [], [span["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    out.append(s)
                    todo.append(s["id"])
        return out

    def self_time(self, span: dict) -> float:
        dur = span["t1"] - span["t0"]
        return dur - sum(c["t1"] - c["t0"] for c in self.children(span))


# -- driver-side instrumentation -------------------------------------------

# (module, attribute or Class.method, span name, after): public calls
# whose wall time is a layer's driver-side cost
DRIVER_CALLS = [
    ("minicrawler_spark.streaming.crawl", "crawl", "crawl", None),
    ("minicrawler_spark.plans.seen", "SeenFilter.novel", "seen.novel",
     None),
    # keys in the seen set after the call: the round's novel keys
    ("minicrawler_spark.plans.seen", "SeenFilter.add", "seen.add",
     lambda args, result: {"keys": args[0].count}),
    ("minicrawler_spark.plans.seen", "SeenFilter._write_shard",
     "seen.write_shard", None),
    ("minicrawler_spark.plans.snapshots", "SnapshotCatalog.commit",
     "snapshots.commit", None),
]

_ACTIONS = ("count", "collect", "toPandas")


def _resolve(module: str, path: str):
    owner = importlib.import_module(module)
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part)
    return owner, attr


def install_driver_spans(tracer: Tracer, dataframe_cls) -> None:
    """Spans around the public calls in DRIVER_CALLS and every
    materializing DataFrame action, and wrappers that make each
    mapInPandas function and scalar pandas UDF record its own span in
    the worker that runs it."""
    for module, path, name, after in DRIVER_CALLS:
        owner, attr = _resolve(module, path)
        tracer.wrap(owner, attr, name, after=after)
    for action in _ACTIONS:
        tracer.wrap(dataframe_cls, action, "action." + action)
    tracer.wrap(
        dataframe_cls, "localCheckpoint", "action.localCheckpoint",
        only_if=lambda a, kw: kw.get("eager", a[1] if len(a) > 1 else True),
    )
    orig = dataframe_cls.mapInPandas

    @functools.wraps(orig)
    def map_in_pandas(self, func, schema, *args, **kwargs):
        return orig(self, traced_stage(func), schema, *args, **kwargs)

    tracer.replace(dataframe_cls, "mapInPandas", map_in_pandas)

    import pyspark.sql.functions as sql_functions
    from pyspark.sql.types import DataType

    orig_udf = sql_functions.pandas_udf

    @functools.wraps(orig_udf)
    def pandas_udf(f=None, returnType=None, functionType=None):
        if callable(f) and not isinstance(f, DataType):
            return orig_udf(traced_udf(f), returnType, functionType)
        # decorator form: the first argument is the return type
        return lambda fn: orig_udf(
            traced_udf(fn), f if f is not None else returnType, functionType)

    tracer.replace(sql_functions, "pandas_udf", pandas_udf)


# The two wrappers below are closures pickled by value into the Python
# workers; they look the recorder up at run time, as a pickled copy of
# it would never be written out.


def traced_stage(func):
    """Wrap a mapInPandas function so the worker records one stage
    span (name = the function's qualified name) around each pull of
    its output, counting Arrow batches and rows on the way in."""
    name = "stage:" + getattr(func, "__qualname__", "?")

    def stage(batches):
        from perfbench.tracing import WORKER as rec

        out = func(rec.counting(name, batches))
        while True:
            with rec.span(name):
                try:
                    pdf = next(out)
                except StopIteration:
                    return
            yield pdf

    return stage


def traced_udf(func):
    """Wrap a scalar pandas UDF: one span per Arrow batch, and the
    batch and its rows counted."""
    name = "udf:" + getattr(func, "__qualname__", "?")

    @functools.wraps(func)
    def udf(*cols):
        from perfbench.tracing import WORKER as rec

        rec.add(name + ":in", items=len(cols[0]), extra=1)
        with rec.span(name):
            return func(*cols)

    return udf


# -- worker-side instrumentation ---------------------------------------------


class Recorder:
    """Per-process sums of worker spans keyed by (job group, name)."""

    def __init__(self):
        self.sums: dict = {}
        self._stack: list = []

    def _entry(self, name: str) -> list:
        key = (_job_group(), name)
        e = self.sums.get(key)
        if e is None:
            # calls, items, total_s, self_s, extra
            e = self.sums[key] = [0, 0, 0.0, 0.0, 0]
        return e

    @contextlib.contextmanager
    def span(self, name: str):
        frame = [time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            dur = time.perf_counter() - frame[0]
            self._stack.pop()
            if self._stack:
                self._stack[-1][1] += dur
            e = self._entry(name)
            e[0] += 1
            e[2] += dur
            e[3] += dur - frame[1]

    def add(self, name: str, items: int = 0, extra: int = 0) -> None:
        e = self._entry(name)
        e[1] += items
        e[4] += extra

    def counting(self, name: str, batches):
        for pdf in batches:
            self.add(name + ":in", items=len(pdf), extra=1)
            yield pdf

    def flush(self, out_dir: str) -> None:
        if not self.sums:
            return
        path = os.path.join(out_dir, "worker-%d.jsonl" % os.getpid())
        with open(path, "a") as f:
            for (group, name), (calls, items, total, self_s, extra) in (
                self.sums.items()
            ):
                f.write(json.dumps({
                    "group": group, "name": name, "calls": calls,
                    "items": items, "total_s": total, "self_s": self_s,
                    "extra": extra,
                }) + "\n")
        self.sums.clear()


# One recorder per Python worker process: the worker functions patched
# below are module attributes of the program, so their spans can only
# reach a process-wide recorder.
WORKER = Recorder()


def _job_group():
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.getLocalProperty("spark.jobGroup.id") if tc is not None else None


def _len0(args, result):
    return len(args[0]) if args and args[0] is not None else 0


def _to_spans_count(args, result):
    WORKER.add("html2text:links", items=len(result[1]))
    return len(args[0]) if args and args[0] is not None else 0


def _fetch_name(args):
    return "robots.fetcher" if args[1].endswith("/robots.txt") else "fetcher"


# (module, function, span name or name(args), items(args, result) or
# None): worker-side functions of each layer, called from inside the
# program's Python stages
WORKER_CALLS = [
    ("minicrawler_spark.functions.urlnorm", "canonicalize_full_batch",
     "urlnorm", _len0),
    ("minicrawler_spark.sources.fixtures", "fixture_fetcher", _fetch_name,
     None),
    ("minicrawler_spark.functions.httpproto", "parse_head", "httpproto",
     None),
    ("minicrawler_spark.functions.httpproto", "dispatch_headers",
     "httpproto", None),
    ("minicrawler_spark.functions.httpproto", "decode_chunked", "httpproto",
     None),
    ("minicrawler_spark.functions.html2text", "to_spans", "html2text",
     _to_spans_count),
    ("minicrawler_spark.functions.cookies", "parse_set_cookie", "cookies",
     None),
    ("minicrawler_spark.functions.cookies", "cookie_upsert", "cookies",
     None),
    ("minicrawler_spark.functions.cookies", "remove_expired", "cookies",
     None),
    ("minicrawler_spark.functions.cookies", "cookie_header", "cookies",
     None),
    ("minicrawler_spark.functions.robots", "robots_allowed_batch",
     "robots.allowed", _len0),
    ("minicrawler_spark.functions.robots", "parse_robots", "robots.parse",
     None),
]


def install_worker_spans() -> None:
    """Wrap WORKER_CALLS with spans into WORKER (run in the daemon)."""
    recorder = WORKER
    for module, attr, name, items in WORKER_CALLS:
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        def traced(*args, _orig=orig, _name=name, _items=items, **kwargs):
            if callable(_name):
                _name = _name(args)
            with recorder.span(_name):
                result = _orig(*args, **kwargs)
            if _items is not None:
                recorder.add(_name, items=_items(args, result))
            return result

        functools.update_wrapper(traced, orig)
        setattr(mod, attr, traced)
