"""Per-layer metrics of the traced run.

Three sources, all measured from outside the program:
- spans around the layers' public functions (``tracing.Tracer``), plus the
  phase ``timings`` of each traced round's ``crawl_rounds`` lineage row;
- replays: a lazy layer function is called again on the input it got in
  the last traced round, materialized first, and forced with a noop write;
- Spark's event log, per job group set from the benchmark thread.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

from pyspark.sql import functions as F

from . import tracing
from .workloads import job_group, tree_bytes

now = time.perf_counter

PHASES = ("discover_dedup_decide", "schedule_order", "fetch_extract",
          "commit_tables", "commit_frontier")
TABLES = ("fetch_log", "url_seen", "pages_out", "inverted_terms",
          "seen_digests", "filtered_log")
QUERY_NAMES = ("filter_decisions", "politeness_schedule", "crawl_order")
SPARK_GROUPS = {"traced": "round", "unattributed.traced": "unattributed",
                "replay": "replay", "search": "search",
                "queries": "queries"}
SPARK_UNITS = {"executor_cpu_s": "s", "gc_s": "s",
               "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
               "spill_bytes": "bytes", "tasks": "count"}
N_SEARCHES = 12
SEARCH_WARMUP = 2
SEARCH_LIMIT = 10


def spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [(f"crawl.{p}_s", "s", "lower") for p in PHASES]
    out.append(("crawl.rounds", "count", "lower"))
    out += [("dedup.seen_antijoin_s", "s", "lower"),
            ("dedup.bloom_antijoin_s", "s", "lower"),
            ("dedup.exact_antijoin_s", "s", "lower"),
            ("dedup.collapse_s", "s", "lower"),
            ("dedup.seen_rows", "count", "lower"),
            ("dedup.candidates_in", "count", "lower"),
            ("dedup.candidates_out", "count", "lower"),
            ("dedup.bloom_maybe_ratio", "ratio", "lower"),
            ("filters.decide_s", "s", "lower"),
            ("filters.filtered_ratio", "ratio", "lower"),
            ("politeness.schedule_s", "s", "lower"),
            ("politeness.global_order_s", "s", "lower"),
            ("politeness.scheduled_rows", "count", "higher"),
            ("politeness.deferred_rows", "count", "lower"),
            ("extraction.pages_per_s", "1/s", "higher"),
            ("extraction.failed_ratio", "ratio", "lower")]
    for t in TABLES:
        out += [(f"catalog.merge_s.{t}", "s", "lower"),
                (f"catalog.bytes_written.{t}", "bytes", "lower"),
                (f"catalog.fragments.{t}", "count", "lower")]
    out += [("index.build_inverted_s", "s", "lower"),
            ("index.postings_rows", "count", "lower"),
            ("search.plan_ms", "ms", "lower"),
            ("search.exec_ms", "ms", "lower"),
            ("search.rows_examined_per_hit", "ratio", "lower")]
    for q in QUERY_NAMES:
        out += [(f"query.{q}.cold_s", "s", "lower"),
                (f"query.{q}.warm_s", "s", "lower"),
                (f"plan.{q}.exchanges", "count", "lower"),
                (f"plan.{q}.chain_copies", "count", "lower")]
    for g in SPARK_GROUPS.values():
        out += [(f"spark.{g}.{c}", u, "lower") for c, u in SPARK_UNITS.items()]
    out += [("trace.overhead_ratio", "ratio", "lower"),
            ("trace.spans", "count", "lower")]
    return out


# ------------------------------------------------------------------ spans
def install(tracer: tracing.Tracer) -> None:
    """Wrap each layer function where the crawl looks it up."""
    import chrono_scraper_spark.operators.dedup as dedup
    import chrono_scraper_spark.plans.crawl as crawl
    import chrono_scraper_spark.sources.cdx as cdx
    from chrono_scraper_spark.plans.catalog import SnapshotCatalog

    replayed = {"anti_join_seen", "bloom_prefilter_anti_join",
                "collapse_digest", "with_filter_decision", "schedule_round",
                "with_extraction", "build_inverted_terms"}
    for attr, name in (
            ("anti_join_seen", "dedup.anti_join_seen"),
            ("bloom_prefilter_anti_join", "dedup.bloom_prefilter_anti_join"),
            ("collapse_digest", "dedup.collapse_digest"),
            ("in_batch_dedup", "dedup.in_batch_dedup"),
            ("with_filter_decision", "filters.with_filter_decision"),
            ("schedule_round", "politeness.schedule_round"),
            ("with_global_order", "politeness.with_global_order"),
            ("robots_filter", "politeness.robots_filter"),
            ("with_extraction", "extraction.with_extraction"),
            ("with_quality_score", "extraction.with_quality_score"),
            ("build_page_index", "index.build_page_index"),
            ("build_inverted_terms", "index.build_inverted_terms"),
            ("discover", "cdx.discover"),
            ("read_pages", "cdx.read_pages")):
        tracer.patch(crawl, attr, name, capture=attr in replayed)
    # run_stream_round imports these inside its body
    tracer.patch(dedup, "collapse_digest", "dedup.collapse_digest",
                 capture=True)
    tracer.patch(dedup, "in_batch_dedup", "dedup.in_batch_dedup")
    tracer.patch(cdx, "discover", "cdx.discover")
    tracer.patch(crawl.CrawlJob, "run_round", "crawl.run_round")

    def fragment(rec, args, kwargs, manifest):
        cat = args[0]
        rec["fragments"] = len(manifest["fragments"])
        rec["bytes"] = tree_bytes(os.path.join(cat.root,
                                               manifest["fragments"][-1]))

    for method in ("merge_not_matched", "commit", "append"):
        tracer.patch(SnapshotCatalog, method,
                     lambda a, kw, m=method: f"catalog.{m}:{a[1]}",
                     on_result=fragment)


def span_metrics(tracer: tracing.Tracer, rounds: list[dict]) -> dict:
    n = max(1, len(rounds))
    out = {f"crawl.{p}_s": sum(r.get("timings", {}).get(p, 0.0)
                               for r in rounds) / n for p in PHASES}
    out["crawl.rounds"] = len(rounds)
    for t in TABLES:
        merges = [s for s in tracer.spans
                  if s["name"] == f"catalog.merge_not_matched:{t}"]
        out[f"catalog.merge_s.{t}"] = sum(
            s["end"] - s["start"] for s in merges) / n
        out[f"catalog.bytes_written.{t}"] = sum(
            s.get("bytes", 0) for s in merges) / n
        out[f"catalog.fragments.{t}"] = max(
            [s.get("fragments", 0) for s in merges] or [0])
    order = [s for s in tracer.spans
             if s["name"] == "politeness.with_global_order"]
    out["politeness.global_order_s"] = sum(
        s["end"] - s["start"] for s in order) / n
    decided = sum(r.get("decided", 0) for r in rounds)
    out["filters.filtered_ratio"] = (
        sum(r.get("filtered", 0) for r in rounds) / decided if decided
        else 0.0)
    out["politeness.scheduled_rows"] = sum(
        r.get("scheduled", 0) for r in rounds) / n
    out["politeness.deferred_rows"] = sum(
        r.get("deferred", 0) for r in rounds) / n
    attempts = sum(r.get("completed", 0) + r.get("failed", 0)
                   for r in rounds)
    out["extraction.failed_ratio"] = (
        sum(r.get("failed", 0) for r in rounds) / attempts if attempts
        else 0.0)
    out["trace.spans"] = len(tracer.spans)
    return out


# ---------------------------------------------------------------- replays
def _noop(df) -> float:
    t0 = now()
    df.write.format("noop").mode("overwrite").save()
    return now() - t0


def _call_and_noop(fn, *args, **kwargs):
    """Seconds to call ``fn`` and force its result, with the result: some
    layer functions do work when called (the Bloom prefilter builds its
    filter eagerly), so the clock starts before the call."""
    t0 = now()
    result = fn(*args, **kwargs)
    result.write.format("noop").mode("overwrite").save()
    return now() - t0, result


def _captured(tracer, name):
    args, kwargs = tracer.captured[name]
    return args[0].localCheckpoint(eager=True), args[1:], kwargs


def replays(spark, tracer: tracing.Tracer) -> dict:
    """Time each lazy layer function again on its last traced input."""
    from chrono_scraper_spark.functions.bloom import (
        build_bloom,
        with_bloom_probe,
    )
    from chrono_scraper_spark.operators import dedup, extraction, filters
    from chrono_scraper_spark.operators import index, politeness

    job_group(spark, "replay")
    out = {}
    inp, rest, kw = _captured(tracer, "filters.with_filter_decision")
    out["filters.decide_s"] = _noop(
        filters.with_filter_decision(inp, *rest, **kw))
    inp, rest, kw = _captured(tracer, "politeness.schedule_round")
    out["politeness.schedule_s"] = _noop(
        politeness.schedule_round(inp, *rest, **kw))
    inp, rest, kw = _captured(tracer, "extraction.with_extraction")
    out["extraction.pages_per_s"] = inp.count() / _noop(
        extraction.with_extraction(inp, *rest, **kw))
    inp, rest, kw = _captured(tracer, "index.build_inverted_terms")
    inv = index.build_inverted_terms(inp, *rest, **kw)
    out["index.build_inverted_s"] = _noop(inv)
    out["index.postings_rows"] = inv.count()
    inp, rest, kw = _captured(tracer, "dedup.collapse_digest")
    out["dedup.collapse_s"] = _noop(dedup.collapse_digest(inp, *rest, **kw))

    # an empty seen set (crawl_fresh) calls neither anti-join: metrics stay 0
    bloom = "dedup.bloom_prefilter_anti_join" in tracer.captured
    exact = "dedup.anti_join_seen" in tracer.captured
    if bloom or exact:
        name = ("dedup.bloom_prefilter_anti_join" if bloom
                else "dedup.anti_join_seen")
        cands, rest, kw = _captured(tracer, name)
        seen, keys = rest[0], (rest[1] if len(rest) > 1 else dedup.SEEN_KEY)
        out["dedup.exact_antijoin_s"], exact_result = _call_and_noop(
            dedup.anti_join_seen, cands, seen, keys)
        out["dedup.candidates_in"] = cands.count()
        if bloom:
            out["dedup.bloom_antijoin_s"], result = _call_and_noop(
                dedup.bloom_prefilter_anti_join, cands, seen, keys, **kw)
            out["dedup.seen_antijoin_s"] = out["dedup.bloom_antijoin_s"]
            n_seen = kw.get("expected_items") or seen.count()
            key = F.concat_ws("\x1f", *[F.col(k) for k in keys])
            probed = with_bloom_probe(cands, key,
                                      build_bloom(seen, key, n_seen, 0.01),
                                      "__maybe")
            maybe = probed.filter(F.col("__maybe")).count()
            out["dedup.bloom_maybe_ratio"] = (
                maybe / out["dedup.candidates_in"]
                if out["dedup.candidates_in"] else 0.0)
        else:
            result = exact_result
            out["dedup.seen_antijoin_s"] = out["dedup.exact_antijoin_s"]
            n_seen = seen.count()
        out["dedup.seen_rows"] = n_seen
        out["dedup.candidates_out"] = result.count()
    return out


# ----------------------------------------------------------------- search
def _tokens(text: str | None) -> list[str]:
    """The index tokenizer (letters and digits, lower-cased) in Python."""
    return [t for t in re.split(r"[\W_]+", (text or "").lower()) if t]


def brute_force_top(pages: list[dict], query: str, k: int) -> list[tuple]:
    """The committed-search ranking computed directly over pages_out rows:
    matched terms, then summed term frequency, quality score and word
    count descending, then (url_canon, ts14) ascending."""
    terms = set(_tokens(query))
    scored = []
    for p in pages:
        toks = _tokens(p["title"]) + _tokens(p["extracted_text"])
        tf = {t: toks.count(t) for t in terms}
        matched = sum(1 for t in terms if tf[t])
        if not matched:
            continue
        scored.append(((-matched, -sum(tf.values()), -p["quality_score"],
                        -p["word_count"], p["url_canon"], p["ts14"]),
                       (p["url_canon"], p["ts14"])))
    scored.sort()
    return [key for _, key in scored[:k]]


def search_probe(spark, cat, seed: int) -> tuple[dict, list[str], int]:
    """Closed-loop queries against the committed index; returns metrics,
    check failures and the number of queries checked."""
    from chrono_scraper_spark.operators.index import (
        page_index_from_pages_out,
        search,
    )

    job_group(spark, "warmup")
    po = cat.read("pages_out")
    pi = page_index_from_pages_out(po)
    inv = cat.read("inverted_terms")
    vocab = sorted(r[0] for r in inv.select("term").distinct().collect())
    rng = random.Random(f"{seed}:search")
    queries = []
    for i in range(N_SEARCHES + SEARCH_WARMUP):
        terms = rng.sample(vocab, rng.randint(1, min(4, len(vocab))))
        if i % 4 == 3:  # some queries hit nothing
            terms = [f"zq{rng.randrange(10**6)}x"]
        queries.append(" ".join(terms))
    plan_ms, exec_ms, results = [], [], []
    for i, q in enumerate(queries):
        job_group(spark, "search" if i >= SEARCH_WARMUP else "warmup")
        t0 = now()
        df = search(pi, inv, q, limit=SEARCH_LIMIT)
        df._jdf.queryExecution().executedPlan()
        t1 = now()
        rows = df.collect()
        t2 = now()
        if i >= SEARCH_WARMUP:
            plan_ms.append((t1 - t0) * 1e3)
            exec_ms.append((t2 - t1) * 1e3)
            results.append((q, [(r["url_canon"], r["ts14"]) for r in rows]))
    job_group(spark, "check")
    pages = [r.asDict() for r in po.select(
        "url_canon", "ts14", "title", "extracted_text", "quality_score",
        "word_count").collect()]
    problems = [f"search {q!r}: top-{SEARCH_LIMIT} differs from brute force"
                for q, got in results
                if got != brute_force_top(pages, q, SEARCH_LIMIT)]
    hits = sum(len(got) for _, got in results)
    return ({"search.plan_ms": statistics.median(plan_ms),
             "search.exec_ms": statistics.median(exec_ms),
             "_search_hits": hits}, problems, len(results))


# ---------------------------------------------------------------- queries
def write_documents(spark, corpus: str, path: str) -> None:
    """A ``documents`` table in the contract schema, from a seeded corpus
    (one row per generated doc)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = (spark.read.parquet(corpus)
            .groupBy("doc_id").agg(F.first("text").alias("text"),
                                   F.first("lang").alias("lang"))
            .orderBy("doc_id").collect())
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": ["generated"] * len(rows),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64())})
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def _norm(rows) -> list[tuple]:
    out = []
    for r in rows:
        cells = []
        for v in r:
            if isinstance(v, float):
                v = round(v, 9)
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            cells.append(v)
        out.append(tuple(cells))
    return sorted(out, key=lambda t: tuple(map(str, t)))


def query_probe(spark, sf_dir: str) -> tuple[dict, list[str]]:
    """The crawl-family contract queries over the generated documents:
    plan shape, a first (cold) and a second (warm) count, and a check
    against their DuckDB oracle."""
    import duckdb

    from chrono_scraper_spark.entry_queries import ORACLES, QUERIES

    out, problems = {}, []
    for name in QUERY_NAMES:
        job_group(spark, "queries")
        # both clocks start at query construction, so each includes
        # analysis and planning
        for run in ("cold", "warm"):
            t0 = now()
            QUERIES[name](spark, sf_dir).count()
            out[f"query.{name}.{run}_s"] = now() - t0
        job_group(spark, "check")
        got = QUERIES[name](spark, sf_dir)
        shape = tracing.plan_shape(
            got._jdf.queryExecution().executedPlan().toString())
        out[f"plan.{name}.exchanges"] = shape["exchanges"]
        out[f"plan.{name}.chain_copies"] = shape["chain_copies"]
        cols = got.columns
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(sf_dir, 'documents.parquet')}')")
        want = con.execute(ORACLES[name]).fetchall()
        con.close()
        if _norm(got.select(*cols).collect()) != _norm(want):
            problems.append(f"query {name}: differs from its oracle")
        spark.catalog.clearCache()
    return out, problems


def engine_metrics(event_dir: str, windows: dict) -> dict:
    lines = []
    for d, _, files in sorted(os.walk(event_dir)):
        for f in sorted(files):
            if not f.startswith("."):
                with open(os.path.join(d, f)) as fh:
                    lines.extend(fh)
    groups = tracing.parse_event_log(lines, windows)
    out = {}
    for group, label in SPARK_GROUPS.items():
        counters = groups.get(group, {})
        for c in SPARK_UNITS:
            out[f"spark.{label}.{c}"] = counters.get(c, 0.0)
    search = groups.get("search", {})
    return out, search.get("input_records", 0.0)
