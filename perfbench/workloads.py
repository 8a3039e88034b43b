"""The benchmark's workloads and the session phases they share.

Every workload is one user session of the engine: crawl a corpus, build
the search index over the crawl and serve query streams, so every
workload reports every metric. The workloads differ in their inputs, and
so in which layer does most of the work:

- bulk_crawl: a throughput crawl of large pages in few rounds.
- polite_crawl_search: the CLI session; small traced rounds, then the
  query streams.

Each phase calls the engine's public functions only. The calls into each
layer are wrapped in `Tracer.span`, which records nothing in an untraced
run. perfbench/README.md gives the reasons for each choice.
"""

from __future__ import annotations

import json
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from high_performance_parallel_search_engine_spark import api
from high_performance_parallel_search_engine_spark.functions import udfs
from high_performance_parallel_search_engine_spark.kernel import (
    bfs, html, text as text_mod)
from high_performance_parallel_search_engine_spark.operators import (
    crawl as crawl_mod, index as ix_mod, local_serve, ranking)
from high_performance_parallel_search_engine_spark.sources import synth, tables

from . import inputs, procfs
from .tracer import Tracer

COMPACT_EVERY = 2         # url-seen compaction, so every crawl compacts
LOCAL_QUERIES = 10_000    # EngineState.search stream: 100 beyond its p99
SPARK_QUERIES = 12        # rank_bm25 stream, about 0.5 s per query


@dataclass(frozen=True)
class CrawlShape:
    """A synthetic corpus (sources.synth) and the crawl run over it."""
    link_mode: str
    hosts: int
    pages_per_host: int
    max_depth: int
    pad_paras: int = 0
    n_medium: int = 0
    n_tiny: int = 0
    buckets: int | None = None      # bucketed pages table
    trace: bool = True              # the CLI default
    max_pages: int | None = None    # None: unbounded (throughput mode)
    budget: int | None = None       # politeness {"*": budget}
    max_links: int = crawl_mod.MAX_LINKS_PER_PAGE

    def corpus_kwargs(self, seed: int) -> dict:
        return dict(n_hosts=self.hosts, pages_per_host=self.pages_per_host,
                    n_medium=self.n_medium, n_tiny_per_host=self.n_tiny,
                    seed=seed, link_mode=self.link_mode,
                    pad_paras=self.pad_paras)

    def config(self):
        unbounded = 1 << 40
        return crawl_mod.CrawlConfig(
            max_depth=self.max_depth,
            max_pages=self.max_pages or unbounded,
            failure_stop=10 if self.trace else unbounded,
            politeness=None if self.budget is None else {"*": self.budget},
            arbitration="exact" if self.trace else "scale",
            trace=self.trace, max_rounds=64, max_links_per_page=self.max_links,
            compact_every=COMPACT_EVERY, pages_buckets=self.buckets)

    def seeds(self) -> list[str]:
        return synth.seed_urls(self.hosts, include_medium=self.n_medium > 0)

    def tree_reach(self) -> int:
        """Pages a tree-mode crawl fetches: page p links to 18p+1..18p+18,
        so each host yields every page within max_depth levels of page 0.
        Exact only while the per-page link cap keeps every child: a page
        also links to 2-4 random pages, and on few hosts some of those are
        unseen same-host pages that can crowd a child out of a cap of 20."""
        per_host, level = 0, [0]
        for _ in range(self.max_depth):
            per_host += len(level)
            level = [c for p in level for c in range(18 * p + 1, 18 * p + 19)
                     if c < self.pages_per_host]
        return self.hosts * per_host


@dataclass(frozen=True)
class Workload:
    """One benchmark workload; perfbench/README.md says why each exists."""
    name: str
    crawl: CrawlShape
    serve_rounds: int | None    # index only rounds below this (None: all)


WORKLOADS = {w.name: w for w in [
    Workload(
        name="bulk_crawl",
        crawl=CrawlShape(link_mode="tree", hosts=3, pages_per_host=343,
                         max_depth=3, pad_paras=96, buckets=4, trace=False,
                         max_links=64),
        serve_rounds=2),
    Workload(
        name="polite_crawl_search",
        crawl=CrawlShape(link_mode="zipf", hosts=4, pages_per_host=150,
                         max_depth=8, n_medium=12, n_tiny=2, trace=True,
                         max_pages=90, budget=10),
        serve_rounds=None),
]}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - int(-(-p * n // 100))


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


@dataclass
class Session:
    """State of one benchmark run: the Spark session, the tracer, the
    samples behind every metric and the correctness tally."""
    spark: object
    tracer: Tracer
    seed: int
    cores: int
    work: Path
    samples: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}",
              file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> None:
        """Record one checked operation (counted in `attempted`)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def _require(obj, name: str):
    """A wrapped public function, or a loud failure if it is gone: the
    benchmark must never report zeros for a layer it could not reach."""
    fn = getattr(obj, name, None)
    if not callable(fn):
        raise RuntimeError(f"benchmark target {obj.__name__}.{name} is "
                           "missing; the benchmark needs updating")
    return fn


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

def stage_corpus(s: Session, shape: CrawlShape, path: Path):
    """Write the workload's corpus as the crawl's pages table; returns the
    pages DataFrame the crawl reads."""
    df = synth.build_corpus_df(s.spark, with_oracle_text=False,
                               **shape.corpus_kwargs(s.seed)) \
        .select("url", "warc_ts", "html", "lang")
    if shape.buckets:
        tables.write_bucketed_pages(df, str(path), n_buckets=shape.buckets)
        return tables.read_bucketed_pages(s.spark, str(path))[0]
    df.write.mode("overwrite").parquet(str(path))
    return s.spark.read.parquet(str(path))


def run_crawl_phase(s: Session, shape: CrawlShape, pages,
                    workdir: Path) -> dict:
    """One crawl with every round and compaction call timed (and spanned
    when tracing). Round counts come only from each round's metrics.json
    `fetched` and `enqueued` (plus `candidates`, where the round writes
    it)."""
    run_round = _require(crawl_mod, "run_round")
    compact = _require(crawl_mod, "compact_url_seen")
    rounds: list[dict] = []

    def timed_round(spark, pages_df, wd, state, config):
        rd = Path(wd)
        fanin = sum(1 for d in rd.glob("round=*/url_seen_delta.parquet"))
        with s.tracer.span("crawl.round", round=state.round,
                           seen_fanin=fanin) as sp:
            t0 = time.perf_counter()
            out = run_round(spark, pages_df, wd, state, config)
            wall = time.perf_counter() - t0
        rounds.append({"wall_s": wall, "span": sp, "round": state.round,
                       "seen_fanin": fanin})
        return out

    def timed_compact(spark, wd, upto):
        with s.tracer.span("crawl.compact", upto=upto):
            t0 = time.perf_counter()
            n = compact(spark, wd, upto)
            s.add("crawl.compact_s", time.perf_counter() - t0)
        return n

    cfg = shape.config()
    seeds = shape.seeds()
    crawl_mod.run_round = timed_round
    crawl_mod.compact_url_seen = timed_compact
    try:
        job0 = s.tracer.max_job_id()
        with s.tracer.span("crawl"):
            t0 = time.perf_counter()
            crawl_mod.run_crawl(s.spark, pages, seeds, str(workdir), cfg,
                                overwrite=True)
            wall = time.perf_counter() - t0
        jobs = s.tracer.max_job_id() - job0
    finally:
        crawl_mod.run_round, crawl_mod.compact_url_seen = run_round, compact
    fetched = enqueued = 0
    for r in rounds:
        rdir = workdir / f"round={r['round']:05d}"
        m = json.loads((rdir / "metrics.json").read_text())
        r["fetched"], r["enqueued"] = m["fetched"], m["enqueued"]
        fetched += m["fetched"]
        enqueued += m["enqueued"]
        r["ckpt_bytes"] = dir_bytes(rdir)
        if "candidates" in m:
            r["candidates"] = m["candidates"]
        elif s.tracer.enabled:
            # throughput rounds write no candidate count: count the links
            # their pages.parquet stores for pages below max_depth
            t = pq.read_table(rdir / "pages.parquet",
                              columns=["depth", "links"]).to_pydict()
            r["candidates"] = sum(len(ls or ()) for d, ls in
                                  zip(t["depth"], t["links"])
                                  if d < cfg.max_depth)
    s.attempted += len(rounds)
    return {"wall_s": wall, "rounds": rounds, "fetched": fetched,
            "enqueued": enqueued, "jobs": jobs,
            "ckpt_bytes": dir_bytes(workdir),
            "seeds": seeds, "config": cfg}


def _host_pages(urls: list[str]) -> list[str]:
    """The fetched host pages (https://host<h>.example.com/p/<p>)."""
    return sorted(u for u in urls
                  if "//host" in u and u.rsplit("/p/", 1)[-1].isdigit())


def _host_page(synth, shape: CrawlShape, seed: int, url: str) -> dict:
    """Regenerate one host page's record from the corpus generator."""
    h = int(url.split("//host")[1].split(".")[0])
    p = int(url.rsplit("/p/", 1)[1])
    kw = {k: v for k, v in shape.corpus_kwargs(seed).items()
          if k != "n_tiny_per_host"}
    return synth.page_record("host", h, p, with_oracle_text=False, **kw)


def _round_files(workdir: Path, name: str) -> list[str]:
    return sorted(str(p) for p in workdir.glob(f"round=0*/{name}"))


def _read_rounds(workdir: Path, name: str, columns: list[str]) -> dict:
    """Columns of one output (e.g. pages.parquet) across every round."""
    return pa.concat_tables(
        [pq.read_table(p, columns=columns)
         for p in _round_files(workdir, name)],
        promote_options="default").to_pydict()


def check_crawl(s: Session, shape: CrawlShape, res: dict,
                workdir: Path) -> None:
    """Outside the timed region. Tree crawls: the fetched count equals
    the tree's closed form, urls are unique, and the stored text of a
    seeded sample equals kernel.html.html_to_text byte for byte. Traced
    crawls: the crawl matches the serial oracle kernel.bfs.crawl event
    for event."""
    pages = _read_rounds(workdir, "pages.parquet", ["url", "text"])
    urls = pages["url"]
    s.check(len(set(urls)) == len(urls) == res["fetched"],
            f"{len(urls)} stored pages, {len(set(urls))} distinct urls, "
            f"{res['fetched']} fetched")
    if shape.link_mode == "tree":
        s.check(res["fetched"] == shape.tree_reach(),
                f"fetched {res['fetched']} != closed form "
                f"{shape.tree_reach()}")
    rng = random.Random(f"text-sample:{s.seed}")
    kw = shape.corpus_kwargs(s.seed)
    by_url = dict(zip(urls, pages["text"]))
    host = _host_pages(urls)
    for u in rng.sample(host, min(16, len(host))):
        rec = _host_page(synth, shape, s.seed, u)
        s.check(by_url[u].encode("utf-8") == html.html_to_text(rec["html"]),
                f"stored text differs from html_to_text for {u}")
    if shape.trace:
        want = bfs.crawl(synth.pages_dict(**kw), res["seeds"],
                         max_depth=shape.max_depth,
                         max_pages=res["config"].max_pages,
                         politeness=res["config"].politeness)
        cols = ["seq", "round", "url", "parent_url", "depth", "host",
                "action", "delay_ms"]
        ev = _read_rounds(workdir, "events.parquet", cols)
        got = sorted(zip(*(ev[c] for c in cols)))
        exp = [tuple(getattr(e, c) for c in cols) for e in want.events]
        s.check(got == exp, f"crawl events diverge from kernel.bfs.crawl "
                            f"({len(got)} vs {len(exp)} events)")


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

def serve_dir_for(workdir: Path, serve_rounds: int | None, out: Path) -> Path:
    """The crawl workdir itself, or a copy of its first `serve_rounds`
    round snapshots (each round directory is self-contained)."""
    if serve_rounds is None:
        return workdir
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    for r in range(serve_rounds):
        name = f"round={r:05d}"
        shutil.copytree(workdir / name, out / name)
    return out


def run_search_phase(s: Session, w: Workload, serve: Path) -> dict:
    """Cold index build through the first EngineState.search, a closed
    loop of EngineState.search calls (one client, like the CLI prompt),
    then a shorter closed loop through ranking.rank_bm25 + collect on an
    index built the way the CLI builds its distributed one. A traced run
    also times the local index collect and each LocalIndex.rank call."""
    _require(api.EngineState, "search")
    rank_bm25 = _require(ranking, "rank_bm25")

    texts = _read_rounds(serve, "pages.parquet", ["text"])["text"]
    pool = inputs.query_pool(texts, s.seed, text_mod.tokenize)
    stream = inputs.query_stream(pool, s.seed, LOCAL_QUERIES)

    rank_s: list[float] = []
    if s.tracer.enabled:
        orig_rank = _require(local_serve.LocalIndex, "rank")
        orig_build = _require(local_serve, "build_local_serving")

        def rank(self, *a, **k):
            t0 = time.perf_counter()
            out = orig_rank(self, *a, **k)
            rank_s.append(time.perf_counter() - t0)
            return out

        def build(*a, **k):
            with s.tracer.span("local_serve.collect"):
                return orig_build(*a, **k)

        local_serve.LocalIndex.rank = rank
        local_serve.build_local_serving = build
    es = api.EngineState(s.spark, str(serve))
    local_hits: dict[str, dict] = {}
    lat = []
    try:
        with s.tracer.span("index.build"):
            t0 = time.perf_counter()
            first = es.search(pool[0])
            s.add("index_build_s", time.perf_counter() - t0)
        s.check(first.get("status") == "ok", "first search failed")
        for q in pool:                      # untimed pass over the pool
            es.search(q)
        # a user at the prompt types seconds apart: let the JVM settle
        s.add("idle_wait_s", procfs.wait_idle())
        rank_s.clear()
        with s.tracer.span("local_serve.stream", n=len(stream)):
            for q in stream:
                t0 = time.perf_counter()
                local_hits[q] = es.search(q)
                lat.append(time.perf_counter() - t0)
    finally:
        if s.tracer.enabled:
            local_serve.LocalIndex.rank = orig_rank
            local_serve.build_local_serving = orig_build
    s.attempted += len(stream)
    s.failed += sum(1 for r in local_hits.values() if r.get("status") != "ok")
    s.samples["query_s"] = lat
    if rank_s:
        s.samples["local_serve.rank_s"] = rank_s
        s.samples["api.search_overhead_s"] = [
            q - r for q, r in zip(lat, rank_s)]

    # the distributed path, which serves every index above the local cap
    docs = (s.spark.read.parquet(*_round_files(serve, "pages.parquet"))
            .selectExpr("seq AS doc_id", "url", "text"))
    with s.tracer.span("ranking.index_build"):
        postings, stats = ix_mod.build_index_tables(docs)
        postings, stats = postings.cache(), stats.cache()
        total = stats.count()
        avg_dl = ix_mod.avg_doc_len(stats, total)
        postings.count()
        df_map = ix_mod.term_df_map(ix_mod.term_df(postings))
    spark_q = pool[:SPARK_QUERIES]
    spark_hits = {}
    lat = []

    def rank(q: str) -> list:
        with ranking.interactive_query_conf(s.spark):
            return rank_bm25(postings, stats, q, total_docs=total,
                             avg_dl=avg_dl, top_k=10, fallback=True,
                             df_map=df_map).collect()

    rank(pool[SPARK_QUERIES])               # untimed: compiles the plan
    for q in spark_q:
        with s.tracer.span("ranking.query"):
            t0 = time.perf_counter()
            rows = rank(q)
            lat.append(time.perf_counter() - t0)
        spark_hits[q] = [(r["doc_id"], r["score"]) for r in rows]
    s.samples["spark_query_s"] = lat
    postings.unpersist()
    stats.unpersist()

    # outside the timed loops: both paths return the same hits
    for q in spark_q:
        if q not in local_hits:
            local_hits[q] = es.search(q)
        got = [(h["doc_id"], h["score"]) for h in local_hits[q]["results"]]
        want = spark_hits[q]
        s.check(len(got) == len(want) and all(
            a[0] == b[0] and abs(a[1] - b[1]) <= 1e-4
            for a, b in zip(got, want)),
            f"EngineState.search and rank_bm25 differ on {q!r}")
    es.invalidate()
    return {"query_pool": len(pool), "zero_hit_share": sum(
        1 for q in stream if not local_hits[q]["results"]) / len(stream)}


# ---------------------------------------------------------------------------
# the kernel and the extraction stage (traced runs only)
# ---------------------------------------------------------------------------

def kernel_sample(s: Session, shape: CrawlShape, urls: list[str]) -> float:
    """Single-core html_to_text + extract_links over a seeded sample of
    the crawl's fetched host pages, regenerated from the corpus
    generator; returns MB of html per CPU-second."""
    rng = random.Random(f"kernel:{s.seed}")
    host = _host_pages(urls)
    recs = [_host_page(synth, shape, s.seed, u)
            for u in rng.sample(host, min(300, len(host)))]
    nbytes = sum(len(r["html"]) for r in recs)
    walls = []
    for _ in range(3):
        t0 = time.process_time()
        for r in recs:
            html.html_to_text(r["html"])
            html.extract_links(r["html"], r["url"])
        walls.append(time.process_time() - t0)
    return nbytes / 1e6 / statistics.median(walls)


def extract_stage(s: Session, pages, workdir: Path) -> tuple[float, int]:
    """functions.udfs.html_text_and_links over the fetched pages, written
    to the noop sink; returns (wall seconds, html bytes)."""
    fn = _require(udfs, "html_text_and_links")
    fetched = s.spark.read.parquet(*_round_files(workdir, "pages.parquet")) \
        .select("url")
    subset = pages.join(fetched, "url", "left_semi").select("url", "html")
    nbytes = subset.selectExpr("sum(length(html))").collect()[0][0]
    with s.tracer.span("udfs.extract"):
        t0 = time.perf_counter()
        fn(subset).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    return wall, nbytes


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def run_workload(s: Session, w: Workload, seconds: float) -> dict:
    """Every measured phase of one run; returns facts for the result.
    One session is measured whatever `seconds` is; more crawls follow
    while the next is expected to end within `seconds` of set-up's end."""
    t_start = time.perf_counter()
    pages = stage_corpus(s, w.crawl, s.work / "corpus")
    s.add("sources.corpus_stage_s", time.perf_counter() - t_start)
    s.add("setup_s", s.samples["session.start_s"][0]
          + time.perf_counter() - t_start)
    s.add("peak_rss_mb", procfs.tree_hwm_mb())
    s.log(f"set up in {s.samples['setup_s'][0]:.1f}s")
    t_measure = time.perf_counter()

    crawls = []

    def crawl_once() -> None:
        wd = s.work / f"crawl{len(crawls)}"
        res = run_crawl_phase(s, w.crawl, pages, wd)
        s.add("crawl_urls_per_s", res["fetched"] / res["wall_s"])
        s.add("ckpt_bytes_per_page", res["ckpt_bytes"] / res["fetched"])
        s.add("crawl_jobs_per_page", res["jobs"] / res["fetched"])
        s.add("peak_rss_mb", procfs.tree_hwm_mb())
        check_crawl(s, w.crawl, res, wd)
        crawls.append((wd, res))
        s.log(f"crawl: {res['fetched']} pages, {len(res['rounds'])} rounds "
              f"in {res['wall_s']:.1f}s")

    crawl_once()
    wd, res = crawls[-1]
    facts = {"fetched": res["fetched"], "rounds": len(res["rounds"])}
    serve = serve_dir_for(wd, w.serve_rounds, s.work / "serve")
    facts.update(run_search_phase(s, w, serve))
    s.add("peak_rss_mb", procfs.tree_hwm_mb())
    s.log(f"search: index {s.samples['index_build_s'][0]:.1f}s")
    while time.perf_counter() - t_measure + res["wall_s"] <= seconds:
        crawl_once()
    facts["crawls_run"] = len(crawls)

    if s.tracer.enabled:
        urls = _read_rounds(wd, "pages.parquet", ["url"])["url"]
        mb_per_s = kernel_sample(s, w.crawl, urls)
        stage_s, nbytes = extract_stage(s, pages, wd)
        s.add("kernel.html_mb_per_s", mb_per_s)
        s.add("udfs.extract_s", stage_s)
        s.add("udfs.stage_vs_kernel",
              stage_s * s.cores / (nbytes / 1e6 / mb_per_s))
        facts["crawls"] = [c[1] for c in crawls]
    return facts
