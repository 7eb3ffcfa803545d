"""The two workloads: seeded inputs, the timed closed loop, and the
correctness checks that run after it.

``crawl_fresh``    one ``CrawlJob.run`` per operation over a seeded html
                   corpus into an empty catalog (empty seen set, budget
                   that does not bind).
``recrawl_stream`` one ``run_stream_round`` per operation over a catalog
                   whose ``url_seen`` is above ``BLOOM_THRESHOLD``, with
                   batches of exact repeats, day-shifted re-captures and
                   new URLs; the politeness budget binds on the mega-host.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from chrono_scraper_spark.corpus import generate_pages
from chrono_scraper_spark.plans.catalog import SnapshotCatalog
from chrono_scraper_spark.plans.crawl import BLOOM_THRESHOLD, CrawlJob
from chrono_scraper_spark.streaming.micro_batch import run_stream_round

CPUS = min(4, os.cpu_count() or 1)

# Phase shares of one round by corpus size are in results.json, "sizes":
# 12k docs matches a 30k-doc round, 1.5k-6k over-weight the fixed cost per
# round; a run above 1.5k docs does not fit the run budget (results.json)
FRESH_DOCS = 1500
FRESH_WORDS_SCALE = 8
# set-up repetitions: the warm-up crawl takes the last input, the timed
# loop the others (one untraced; one plain and one traced with --trace 1)
FRESH_CORPORA = 3

# The recrawl history is seed-independent: it is crawled once per checkout
# and program version (see ``history_digest``) and reused (hard-linked) by
# every run.
HISTORY_DOCS = 230_000
# round time and phase shares are flat from 1.5k to 19.5k rows
# (results.json, "sizes"); set-up time grows with the batch
BATCH_ROWS = 6500
# set-up repetitions: the warm-up round takes the first batch, the timed
# loop the others
STREAM_BATCHES = 3
# budget per host per round = rps × round_seconds = 300: the mega-host gets
# about a third of each batch's ~1.3k unfiltered new URLs, more than its
# budget; every other host stays under it
STREAM_RPS = 5.0
STREAM_ROUND_SECONDS = 60.0

now = time.perf_counter


def seeds_frame(spark):
    return spark.createDataFrame(
        [(1, r"https://.*", "regex", None, None, None)],
        "project_id int, domain_name string, match_type string, "
        "url_path string, from_date date, to_date date")


def job_group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def closed_loop(seconds: float, items, op) -> list:
    """Run ``op`` on successive items, one after the other, until
    ``seconds`` have passed (at least one operation)."""
    out, start = [], now()
    for item in items:
        if out and now() - start >= seconds:
            break
        out.append(op(item))
    return out


@dataclass
class Op:
    seconds: float
    urls: int          # terminalized: fetched + filtered
    bytes: int         # committed under the catalog root
    rounds: list       # lineage counters of the rounds it ran
    ref: dict = field(default_factory=dict)
    failed: bool = False


def expected_keys(rows) -> set:
    """Deduped candidate keys of one hand-off, computed without the
    program: 200-status captures, earliest capture (ts14, url) per content
    digest, keyed on (fragment-stripped url, ts14)."""
    best: dict = {}
    for r in rows:
        if r["status"] != 200:
            continue
        cur = best.get(r["digest"])
        if cur is None or (r["ts14"], r["url"]) < (cur["ts14"], cur["url"]):
            best[r["digest"]] = r
    return {(r["url"].split("#")[0], r["ts14"]) for r in best.values()}


def capture_rows(df):
    return df.select("url", "digest", "status",
                     F.date_format("warc_ts", "yyyyMMddHHmmss")
                     .alias("ts14")).collect()


def keys_of(df) -> list:
    return [(r[0], r[1]) for r in df.select("url_canon", "ts14").collect()]


# --------------------------------------------------------------- crawl_fresh
class CrawlFresh:
    name = "crawl_fresh"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.corpora: list[str] = []
        self.n_ops = 0

    def _make_corpus(self, k: int) -> str:
        """A seeded offset into the generator's doc-id space,
        re-partitioned over the cores."""
        rng = random.Random(f"{self.ctx.seed}:fresh:{k}")
        offset = rng.randrange(0, 1_000_000)
        path = os.path.join(self.ctx.work, f"corpus{k}")
        (generate_pages(self.spark, offset + FRESH_DOCS,
                        words_scale=FRESH_WORDS_SCALE)
         .filter(F.col("doc_id") >= offset)
         .repartition(CPUS).write.parquet(path))
        return path

    def prepare(self) -> None:
        """Nothing: every input is made in set-up."""

    def setup(self) -> list[float]:
        """One corpus per repetition."""
        times = []
        for k in range(FRESH_CORPORA):
            t0 = now()
            self.corpora.append(self._make_corpus(k))
            times.append(now() - t0)
        return times

    def _crawl(self, corpus: str) -> Op:
        cat = SnapshotCatalog(self.spark, os.path.join(
            self.ctx.work, f"fresh{self.n_ops:03d}"))
        self.n_ops += 1
        job = CrawlJob(self.spark, cat, corpus, seeds_frame(self.spark),
                       rps=10_000.0, burst=0, round_seconds=60.0)
        t0 = now()
        rounds = job.run(max_rounds=5)
        dt = now() - t0
        urls = sum(r.get("scheduled", 0) + r.get("filtered", 0)
                   for r in rounds)
        self.ctx.log(f"crawl {dt:.2f} s, {urls} urls, phases "
                     f"{[r.get('timings') for r in rounds]}")
        return Op(dt, urls, tree_bytes(cat.root), rounds,
                  {"cat": cat, "corpus": corpus})

    def warmup(self) -> None:
        # a full-size crawl: a small one leaves the first timed crawl slow
        self._crawl(self.corpora.pop())

    def loop(self, seconds: float) -> list[Op]:
        return closed_loop(seconds, itertools.cycle(self.corpora),
                           self._crawl)

    def check(self, ops: list[Op]) -> list[str]:
        problems = []
        expected = {}
        for i, op in enumerate(ops):
            cat, corpus = op.ref["cat"], op.ref["corpus"]
            why = []
            if len(op.rounds) != 1:
                why.append(f"{len(op.rounds)} rounds, expected 1")
            src = self.spark.read.parquet(corpus)
            po = cat.read("pages_out").select("url", "ts14",
                                              "extracted_text")
            truth = src.select("url", F.date_format(
                "warc_ts", "yyyyMMddHHmmss").alias("ts14"), "text")
            bad = (po.join(truth, ["url", "ts14"], "left")
                   .filter(~F.col("extracted_text").eqNullSafe(
                       F.col("text"))).count())
            if bad:
                why.append(f"{bad} pages_out rows differ from source text")
            if corpus not in expected:
                expected[corpus] = expected_keys(capture_rows(src))
            got = keys_of(cat.read("fetch_log")) + keys_of(
                cat.read("filtered_log"))
            if len(got) != len(set(got)) or set(got) != expected[corpus]:
                why.append(f"terminal keys {len(got)} != deduped "
                           f"candidates {len(expected[corpus])}")
            if why:
                op.failed = True
                problems.append(f"crawl {i}: " + "; ".join(why))
        return problems


# ------------------------------------------------------------ recrawl_stream
def history_digest() -> str:
    """A hash of every file the history depends on: the crawl engine's
    sources and this module (which holds the recipe). A history written by
    other code is never reused."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.abspath(__file__)]
    for d, dirs, names in os.walk(os.path.join(repo, "chrono_scraper_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names)
                  if n.endswith(".py")]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, repo).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def history_root(build_dir: str) -> str:
    """Where the history of this program version lives; it is complete
    when ``DONE.json`` exists there."""
    return os.path.join(build_dir, f"history-{history_digest()}")


def build_history(spark, build_dir: str, log) -> None:
    """The recrawl history catalog, crawled once per checkout and program
    version: a seeded corpus at words_scale=1, one capture per URL, crawled
    to completion. Histories of other versions are deleted."""
    root = history_root(build_dir)
    marker = os.path.join(root, "DONE.json")
    for old in os.listdir(build_dir):
        if old.startswith("history-"):
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    t0 = now()
    corpus = os.path.join(root, "corpus")
    generate_pages(spark, HISTORY_DOCS, words_scale=1,
                   captures_per_url=1).write.parquet(corpus)
    cat = SnapshotCatalog(spark, os.path.join(root, "catalog"))
    CrawlJob(spark, cat, corpus, seeds_frame(spark), rps=10_000.0,
             burst=0, round_seconds=60.0).run(max_rounds=5)
    seen = cat.row_count("url_seen")
    if seen <= BLOOM_THRESHOLD:
        raise RuntimeError(f"history url_seen has {seen} rows, not above "
                           f"BLOOM_THRESHOLD={BLOOM_THRESHOLD}")
    shutil.rmtree(corpus)
    # the base keys, for sampling and checks without a Spark job per run
    with open(os.path.join(root, "base_keys.json"), "w") as f:
        json.dump([[r[0], r[1], r[2]] for r in cat.read("url_seen").select(
            "url_canon", "ts14", "url").collect()], f)
    with open(marker, "w") as f:
        json.dump({"url_seen_rows": seen, "build_s": now() - t0}, f)
    log(f"built recrawl history: {seen} url_seen rows in "
        f"{now() - t0:.1f} s")


class RecrawlStream:
    name = "recrawl_stream"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.batches: list[str] = []
        self.handed: list[str] = []

    def prepare(self) -> None:
        ctx, spark = self.ctx, self.spark
        t0 = now()
        root = os.path.join(ctx.work, "catalog")
        # fragments are immutable and every commit writes new files, so
        # hard links give the run a private catalog without copying data
        shutil.copytree(os.path.join(ctx.history, "catalog"), root,
                        copy_function=os.link)
        self.cat = SnapshotCatalog(spark, root)
        with open(os.path.join(ctx.history, "base_keys.json")) as f:
            rows = json.load(f)
        self.base = {(r[0], r[1]) for r in rows}
        self.seen_ids = sorted(int(r[2].rsplit("-", 1)[1]) for r in rows)
        ctx.log(f"recrawl base: {len(self.base)} url_seen keys "
                f"(copy+load {now() - t0:.1f} s)")
        self.arrivals = os.path.join(ctx.work, "arrivals")
        rng = random.Random(f"{ctx.seed}:recrawl")
        self.new_start = HISTORY_DOCS + rng.randrange(0, 1_000_000)
        self.job = CrawlJob(spark, self.cat,
                            os.path.join(self.arrivals, "b*"),
                            seeds_frame(spark), rps=STREAM_RPS, burst=0,
                            round_seconds=STREAM_ROUND_SECONDS)

    def setup(self) -> list[float]:
        """One batch per repetition."""
        times = []
        for b in range(STREAM_BATCHES):
            t0 = now()
            self.batches.append(self._make_batch(b))
            times.append(now() - t0)
        return times

    def _make_batch(self, b: int) -> str:
        """A third each of exact repeats of seen captures, re-captures of
        seen URLs shifted by 1-60 days (same text, so same digest), and new
        URLs; which ones is drawn from the seed."""
        rng = random.Random(f"{self.ctx.seed}:recrawl:{b}")
        n_rep = n_shift = BATCH_ROWS // 3
        n_new = BATCH_ROWS - n_rep - n_shift
        old = rng.sample(self.seen_ids, n_rep + n_shift)
        first_new = self.new_start + b * BATCH_ROWS
        picks = ([(i, 0) for i in old[:n_rep]]
                 + [(i, rng.randint(1, 60)) for i in old[n_rep:]]
                 + [(i, 0) for i in range(first_new, first_new + n_new)])
        ids = [i for i, _ in picks]
        shifts = self.spark.createDataFrame(picks,
                                            "doc_id long, shift_days int")
        pages = generate_pages(self.spark, max(ids) + 1, words_scale=1,
                               captures_per_url=1)
        cols = pages.columns
        path = os.path.join(self.arrivals, f"b{b:02d}")
        # one SQL IN list: Column.isin makes a JVM call per value; either
        # way the filter reaches the id range before pages are rendered
        in_ids = F.expr(f"doc_id IN ({','.join(map(str, sorted(ids)))})")
        (pages.filter(in_ids)
         .join(F.broadcast(shifts), "doc_id")
         .withColumn("warc_ts",
                     F.expr("timestampadd(DAY, shift_days, warc_ts)"))
         .select(*cols).coalesce(2).write.parquet(path))
        return path

    def _batch(self, path: str) -> Op:
        pages = self.spark.read.parquet(path)
        before = tree_bytes(self.cat.root)
        t0 = now()
        res = run_stream_round(self.job, pages)
        dt = now() - t0
        self.handed.append(path)
        self.ctx.log(f"batch {dt:.2f} s, phases {res.get('timings')}")
        return Op(dt, res.get("scheduled", 0) + res.get("filtered", 0),
                  tree_bytes(self.cat.root) - before, [res],
                  {"round_idx": res["round_idx"], "path": path})

    def warmup(self) -> None:
        self.first_round = self.job.next_round()
        self._batch(self.batches.pop(0))

    def loop(self, seconds: float) -> list[Op]:
        ops = closed_loop(seconds, list(self.batches), self._batch)
        del self.batches[:len(ops)]
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        spark, cat = self.spark, self.cat
        since = F.col("round_idx") >= self.first_round
        fetched = (cat.read("fetch_log").filter(since)
                   .select("round_idx", "url_canon", "ts14").collect())
        problems = []
        for i, op in enumerate(ops):
            hit = [r for r in fetched if r[0] == op.ref["round_idx"]
                   and (r[1], r[2]) in self.base]
            if hit:
                op.failed = True
                problems.append(f"batch {i}: fetched {len(hit)} keys "
                                f"already in the base url_seen")
        fetched_keys = [(r[1], r[2]) for r in fetched]
        filtered = keys_of(cat.read("filtered_log").filter(since))
        frontier = keys_of(cat.read("frontier"))
        expected = set()
        for path in self.handed:
            expected |= expected_keys(capture_rows(spark.read.parquet(path)))
        expected -= self.base
        got = fetched_keys + filtered + frontier
        if len(got) != len(set(got)) or set(got) != expected:
            problems.append(
                f"fetched+filtered+frontier keys ({len(set(got))} distinct "
                f"of {len(got)}) != new candidate keys ({len(expected)})")
        seen_final = keys_of(cat.read("url_seen"))
        if (len(seen_final) != len(self.base) + len(fetched_keys)
                or set(seen_final) != self.base | set(fetched_keys)):
            problems.append(f"final url_seen ({len(seen_final)} rows) != "
                            f"base ({len(self.base)}) + new terminal keys "
                            f"({len(fetched_keys)})")
        if len(problems) > sum(op.failed for op in ops):
            for op in ops:
                op.failed = True
        return problems


WORKLOADS = {w.name: w for w in (CrawlFresh, RecrawlStream)}


def summarize(ops: list[Op], setup_times: list[float]) -> dict:
    secs = sum(op.seconds for op in ops)
    urls = sum(op.urls for op in ops)
    return {
        "setup_s": statistics.median(setup_times),
        "round_p50_s": statistics.median(op.seconds for op in ops),
        "urls_per_s": urls / secs,
        "catalog_bytes_per_url": sum(op.bytes for op in ops) / urls,
    }
