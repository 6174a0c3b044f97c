"""The benchmark's workloads. Each makes its inputs from the seed, warms
up on a small input of its own path, runs timed iterations, and checks
the program's outputs.

`prepare`, outside the timing, makes the timed inputs and any reference
the checks compare with. `iterate` is the timed part; it returns a dict
with items (work done) and failed (items that ended as error or
timeout). `check`, outside the timing, adds key (a digest that must be
equal on every iteration of a run), problems (failed checks) and stats
(counts for the per-layer view).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F


def _digest(lines) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()[:16]


def _tree_size(path: str) -> int:
    """Bytes in the files under path."""
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _dirs, names in os.walk(path) for n in names)


# -- frontier -----------------------------------------------------------------


class Frontier:
    """One messy synthetic frontier through the scheduling plan of a
    crawl round with dedup: canonicalize -> error gate -> xxhash64 ->
    anti-join against the seen table -> repartition by host ->
    row_number over (host; priority, seq), as crawl() and crawl_round()
    build it. Only the fetch is left out."""

    name = "frontier"
    n_urls = 600_000
    # the warm-up runs the whole path on a smaller frontier
    n_warm = 100_000
    n_hosts = 10_000
    # multiplier spreading keys over hosts; coprime with n_hosts
    host_mult = 40503

    def __init__(self, seed: int, run_dir: str, cpus: int):
        self.seed = seed
        self.cpus = cpus
        self.frontier = None
        self.seen = None
        self._expected: dict = {}

    def refound(self, k: int) -> bool:
        """Whether key k was crawled in an earlier round (one key in
        ten), so its URL is in the seen table."""
        return (k // 100 * 7 + self.seed) % 10 == 0

    def expected(self, n: int):
        """(scheduled URLs, distinct hosts) for a frontier of n rows."""
        if n not in self._expected:
            hosts = {(k * self.host_mult + self.seed * 131) % self.n_hosts
                     for k in range(n) if not self.refound(k)}
            scheduled = sum(not self.refound(k) for k in range(n))
            self._expected[n] = (scheduled, len(hosts))
        return self._expected[n]

    def _urls(self, k):
        """(canonical URL, raw URL) of key column k. ~70% of raw URLs
        are already canonical; the rest use upper case with a default
        port, a dot segment, a fragment, or an unescaped UTF-8 path."""
        s = self.seed
        host = F.format_string(
            "host%d.s%d.test",
            F.pmod(k * self.host_mult + s * 131, F.lit(self.n_hosts)),
            F.lit(s),
        )
        # one key in ten has a non-ASCII path, stored percent-encoded
        utf8 = F.pmod(k, F.lit(10)) == 3
        path = F.when(utf8, F.format_string("/caf%%C3%%A9/%d", k)).otherwise(
            F.format_string("/page/%d", k)
        )
        form = F.pmod(F.floor(k / 10) * 31 + s, F.lit(10))
        canonical = F.concat(F.lit("http://"), host, path)
        raw = (
            F.when(utf8 & (form < 3),
                   F.concat(F.lit("http://"), host,
                            F.format_string("/café/%d", k)))
            .when(form < 7, canonical)
            .when(form == 7, F.concat(F.lit("HTTP://"), F.upper(host),
                                      F.lit(":80"), path))
            .when(form == 8, F.concat(F.lit("http://"), host, F.lit("/a/.."),
                                      path))
            .otherwise(F.concat(canonical, F.lit("#f"), k.cast("string")))
        )
        return canonical, raw

    def generate(self, spark, n: int):
        """(frontier, seen): frontier rows (seq, rawurl, base, priority)
        with one key each, the key's URL in a raw form; seen holds the
        url_hash of the canonical URL of every re-found key in the
        frontier and of as many earlier keys that are not in it."""
        k = F.col("id")
        canonical, raw = self._urls(k)
        frontier = spark.range(0, n, 1, 2 * self.cpus).select(
            F.xxhash64(F.lit(self.seed), k).alias("seq"),
            raw.alias("rawurl"),
            F.lit(None).cast("string").alias("base"),
            F.pmod(k, F.lit(3)).cast("double").alias("priority"),
        )
        refound = F.pmod(F.floor(k / 100) * 7 + self.seed, F.lit(10)) == 0
        seen = (
            spark.range(0, n + n // 10, 1, 2 * self.cpus)
            .filter((k >= n) | refound)
            .select(F.xxhash64(canonical).alias("url_hash"))
        )
        return frontier, seen

    def _schedule(self, spark, frontier, seen):
        """The scheduling plan, run by one action: scheduled URLs,
        hosts, hosts whose slots are not dense 0..k-1, and URLs that
        failed to parse."""
        from minicrawler_spark.streaming.crawl import (
            _canonicalize_df,
            _gate_errors,
        )

        errors = Observation()
        canon = _canonicalize_df(frontier).observe(
            errors, F.count_if(F.col("errkind") != "").alias("failed")
        )
        ok, _bad = _gate_errors(canon, 0)
        novel = ok.withColumn("url_hash", F.xxhash64("href")).join(
            seen, "url_hash", "left_anti"
        )
        w = Window.partitionBy("host").orderBy("priority", "seq")
        scheduled = novel.repartition(self.cpus, "host").withColumn(
            "slot", F.row_number().over(w) - 1
        )
        per_host = scheduled.groupBy("host").agg(
            F.count("*").alias("n"), F.max("slot").alias("top")
        )
        row = per_host.agg(
            F.sum("n").alias("scheduled"),
            F.count("*").alias("hosts"),
            F.count_if(F.col("top") + 1 != F.col("n")).alias("not_dense"),
        ).collect()[0].asDict()
        row["failed"] = errors.get["failed"]
        return row

    def warm(self, spark):
        frontier, seen = self.generate(spark, self.n_warm)
        self._schedule(spark, frontier, seen.localCheckpoint(eager=True))

    def prepare(self, spark):
        frontier, seen = self.generate(spark, self.n_urls)
        self.frontier = frontier.localCheckpoint(eager=True)
        self.seen = seen.localCheckpoint(eager=True)
        self.expected(self.n_urls)
        # one untimed pass: the first pass over the timed input runs
        # ~20% slower than the ones after it, and a run holds two or
        # three passes, so without this the median would depend on how
        # many fit
        self._schedule(spark, self.frontier, self.seen)

    def iterate(self, spark, i: int) -> dict:
        row = self._schedule(spark, self.frontier, self.seen)
        return {"items": self.n_urls, "failed": row["failed"], "row": row}

    def check(self, r: dict) -> None:
        row = r.pop("row")
        scheduled, hosts = self.expected(self.n_urls)
        problems = []
        if row["scheduled"] != scheduled:
            problems.append("scheduled %s URLs, expected %d"
                            % (row["scheduled"], scheduled))
        if row["hosts"] != hosts:
            problems.append("%s hosts, expected %d" % (row["hosts"], hosts))
        if row["not_dense"]:
            problems.append("%d hosts with gaps in their slots"
                            % row["not_dense"])
        r.update(key="%s/%s" % (row["scheduled"], row["hosts"]),
                 problems=problems, stats={})


# -- crawl_durable --------------------------------------------------------------

# fixture paths beside /page/N: chunked bodies, gzip, redirects, cookies,
# header and meta charsets, a non-2xx status and binary media; all end
# as `done`
SPECIAL_PATHS = [
    "/chunked", "/gzip", "/redirect/2", "/absolute-redirect/2",
    "/cookies/set?k=v", "/headers-charset/iso-8859-2",
    "/charset/windows-1250", "/teapot", "/image/im%d.png", "/audio/a%d.wav",
]


def crawl_seeds(seed: int, n_hosts: int, pages: int) -> list:
    """Seed URLs over the fixture web: `pages` random pages on each of
    `n_hosts` random hosts, and one special path on each of the first
    hosts, every special path once, so that every seed's crawl holds
    the same kinds of work."""
    rng = random.Random(seed)
    seeds = []
    for n, h in enumerate(rng.sample(range(1000), n_hosts)):
        for p in rng.sample(range(50), pages):
            seeds.append("http://host%d.test/page/%d" % (h, p))
        if n < len(SPECIAL_PATHS):
            path = SPECIAL_PATHS[n].replace("%d", str(h % 9))
            seeds.append("http://host%d.test%s" % (h, path))
    return seeds


def robots_denied(url: str) -> bool:
    """Whether the fixture web's robots.txt for the URL's host
    disallows its path (the fixture web is a pure function of the URL)."""
    from urllib.parse import urlsplit

    from minicrawler_spark.sources import fixtures

    parts = urlsplit(url)
    rules = fixtures.fixture_response(
        "GET", "http://%s/robots.txt" % parts.netloc)[0]
    disallowed = [
        line.split(":", 1)[1].strip()
        for line in rules.split(b"\r\n\r\n", 1)[1].decode().splitlines()
        if line.startswith("Disallow:")
    ]
    return any(parts.path.startswith(d) for d in disallowed)


def fixture_problems(rows, robots: bool = True) -> list:
    """Check result rows against the fixture web: a fetched row has the
    status the fixture serves for its final URL, and, when the crawl
    respected robots, a row is robots-denied exactly when the host's
    robots.txt disallows its path."""
    from minicrawler_spark.sources import fixtures

    problems = []
    for r in rows:
        denied = robots and robots_denied(r["url"])
        if (r["outcome"] == "robots") != denied:
            problems.append("robots outcome %s for %s" % (r["outcome"],
                                                          r["url"]))
        elif r["outcome"] == "done":
            raw, _delay = fixtures.fixture_response("GET", r["url"])
            status = int(raw.split(b" ", 2)[1])
            if status != r["status"]:
                problems.append("status %s for %s, the fixture serves %d"
                                % (r["status"], r["url"], status))
        elif r["outcome"] != "robots":
            problems.append("outcome %s for %s" % (r["outcome"], r["url"]))
    return problems


def page_links(url: str) -> set:
    """The absolute URLs an HTML page of the fixture web links to, by
    a plain scan of its href and src attributes."""
    import re
    from urllib.parse import urljoin

    from minicrawler_spark.sources import fixtures

    body = fixtures.fixture_response("GET", url)[0].split(b"\r\n\r\n", 1)[1]
    return {urljoin(url, link) for link in
            re.findall(r'(?:href|src)="([^"]+)"', body.decode("utf-8"))}


def links_problems(rows, seeds) -> list:
    """Every link of every /page/N seed robots allows is in the result,
    so a crawl that stops extracting or following links fails."""
    import re

    urls = {r["url"] for r in rows}
    missing = sorted(
        link for u in seeds
        if re.search(r"/page/\d+$", u) and not robots_denied(u)
        for link in page_links(u) - urls
    )
    if missing:
        return ["%d links of seed pages not in the result, e.g. %s"
                % (len(missing), missing[0])]
    return []


def reference_problems(rows, reference, denied_seeds) -> list:
    """Compare a crawl with robots against `reference`, the (url,
    status) pairs of the same crawl without robots started from the
    seeds robots allows. Every URL is in the result once; the URLs are
    the reference's plus the denied seeds; every fetched row is a
    reference pair. So a crawl that fetches a URL twice, loses a link
    or gains a row fails."""
    import collections

    problems = []
    counts = collections.Counter(r["url"] for r in rows)
    dups = sorted(u for u, n in counts.items() if n > 1)
    if dups:
        problems.append("%d URLs in the result more than once, e.g. %s"
                        % (len(dups), dups[0]))
    want = {u for u, _status in reference} | set(denied_seeds)
    missing, extra = want - set(counts), set(counts) - want
    if missing or extra:
        problems.append("%d result rows; %d URLs of the reference crawl "
                        "missing (e.g. %s), %d not in it (e.g. %s)"
                        % (len(rows), len(missing), min(missing, default=""),
                           len(extra), min(extra, default="")))
    wrong = sorted(r["url"] for r in rows if r["outcome"] != "robots"
                   and (r["url"], r["status"]) not in reference)
    if wrong:
        problems.append("%d fetched rows differ from the reference crawl, "
                        "e.g. %s" % (len(wrong), wrong[0]))
    return problems


class CrawlDurable:
    """BFS crawl of the fixture web with link extraction, dedup, robots
    and a checkpoint_dir (sharded seen filter, frontier snapshots,
    metrics parquet), max_depth 1: two rounds."""

    name = "crawl_durable"
    n_hosts = 24
    pages = 2

    def __init__(self, seed: int, run_dir: str, cpus: int):
        self.run_dir = run_dir
        self.seeds = crawl_seeds(seed, self.n_hosts, self.pages)
        self.warm_seeds = crawl_seeds(seed + 1, 2, 1)
        self.reference = None

    def _crawl(self, spark, seeds, max_depth: int, ckpt=None,
               robots: bool = True):
        from minicrawler_spark.config import CrawlSettings
        from minicrawler_spark.streaming import crawl as crawl_mod

        sc = spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        res = crawl_mod.crawl(
            spark, seeds,
            CrawlSettings(timeout=3600, extract_links=True, dedup=True,
                          max_depth=max_depth, max_rounds=4,
                          respect_robots=robots),
            checkpoint_dir=ckpt,
        )
        # crawl() leaves its own job group set; go on under the caller's
        if group is not None:
            sc.setJobGroup(group, group)
        rows = res.select(
            F.coalesce("url", "href", "rawurl").alias("url"),
            "status", "outcome", "depth",
        ).collect()
        return rows

    def warm(self, spark):
        """One round of the same crawl on a few seeds."""
        ckpt = os.path.join(self.run_dir, "warm-ckpt")
        self._crawl(spark, self.warm_seeds, 0, ckpt)
        shutil.rmtree(ckpt)

    def prepare(self, spark):
        """The reference for the output checks: the same crawl with
        neither robots nor a checkpoint_dir, from the seeds robots
        allows."""
        if self.reference is None:
            self.denied_seeds = [u for u in self.seeds if robots_denied(u)]
            allowed = [u for u in self.seeds if u not in self.denied_seeds]
            rows = self._crawl(spark, allowed, 1, robots=False)
            self.reference = {(r["url"], r["status"]) for r in rows}
            self.reference_problems = (fixture_problems(rows, robots=False)
                                       + links_problems(rows, allowed))
            if len(self.reference) != len(rows):
                self.reference_problems.append(
                    "the reference crawl has %d rows for %d URLs"
                    % (len(rows), len(self.reference)))

    def iterate(self, spark, i: int) -> dict:
        ckpt = os.path.join(self.run_dir, "ckpt-%d" % i)
        rows = self._crawl(spark, self.seeds, 1, ckpt)
        failed = sum(r["outcome"] in ("error", "timeout") for r in rows)
        return {"items": len(rows), "failed": failed, "rows": rows,
                "ckpt": ckpt}

    def check(self, r: dict) -> None:
        rows, ckpt = r.pop("rows"), r.pop("ckpt")
        problems = (self.reference_problems + fixture_problems(rows)
                    + links_problems(rows, self.seeds)
                    + reference_problems(rows, self.reference,
                                         self.denied_seeds))
        r.update(
            key=_digest("%s\t%s\t%s" % (x["url"], x["status"], x["outcome"])
                        for x in rows),
            problems=problems[:5],
            stats={
                "deeper_rows": sum((x["depth"] or 0) > 0 for x in rows),
                "robots_denied": sum(x["outcome"] == "robots" for x in rows),
                "seen_bytes": _tree_size(os.path.join(ckpt, "seen")),
                "snapshot_bytes": _tree_size(os.path.join(ckpt, "frontier")),
            },
        )
        shutil.rmtree(ckpt)


WORKLOADS = {w.name: w for w in (Frontier, CrawlDurable)}
