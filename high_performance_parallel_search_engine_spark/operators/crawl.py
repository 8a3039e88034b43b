"""The crawl engine: BSP fetch rounds over a pages table.

Re-expression of the serial crawl loop (Serial Version/src/crawler.c:
1032-1403) as checkpointed Spark jobs - one job per BFS round - with exact
crawl-order parity (proved against kernel/bfs.py, itself proved against a
literal FIFO simulation):

  frontier_r --(validity c.c:1082)--> --(robots, ours)--> --(politeness
  budget, ours)--> --(fetch = join vs pages; gate c.c:1115+848)-->
  --(stop cutoffs c.c:1075: maxPages + 10-consecutive-failures)-->
  --(extract text+links, ONE Arrow pass, c.c:134-437/685-746)-->
  --(candidate validity vs global seed domain, c.c:1305)-->
  --(cross-round URL-seen anti-join [+bloom], c.c:1320)-->
  --(intra-round arbitration: first-occurrence dedup + <=20/page cap,
     c.c:1299-1341)--> frontier_{r+1}

Scale design notes (the 100 TB story):
- html bytes never cross a shuffle: the fetch gate joins a slim projection
  (url, length(html)), and only surviving rows re-join for html right before
  the extraction UDF;
- the stop cutoff runs as aggregates observed on the fetch-gate checkpoint
  when no stop can possibly bind this round (the common case) and only
  falls back to an ordered window in the crawl's final round;
- a traced round has a fixed floor of about 25 Spark jobs whatever its
  size: ONE fetch-gate checkpoint serves the fetch set, the deferrals and
  the stop-cutoff counts; every other count (events per action, politeness
  delay, trailing failures, candidates, enqueued) rides a snapshot write as
  an Observation; the dense event and frontier seqs are a projection over a
  lazily checkpointed range-sorted frame (common.with_global_seq_counted),
  with no window and no extra exchange;
- frontier/url_seen snapshots are parquet-per-round with a manifest commit
  marker (Iceberg-snapshot semantics without the runtime dep); url_seen is
  stored as per-round DELTAS, read back as a multi-path union - O(new urls)
  write amplification per round;
- the anti-join uses a bloom pre-filter (might_contain) so only ~fpp of
  definitely-new candidates pay the exact anti-join shuffle;
- frontiers repartition by salted host before the politeness window
  (operators/politeness.py) - hot hosts cannot serialize a task;
- per-round metrics + per-partition lineage land in metrics.json next to
  each snapshot.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..functions.udfs import html_text_and_links
from ..functions.urlsql import (
    base_domain_col,
    host_col,
    is_html_content_url_col,
    url_diversity_col,
    url_priority_col,
    valid_crawl_url_col,
)
from .arbitrate import MAX_LINKS_PER_PAGE, arbitrate, openmp_queue_positions
from .common import seen_anti_join, with_global_seq_counted
from .politeness import apply_budget, delay_ms_col
from .robots import apply_robots

FRONTIER_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("depth", IntegerType()),
    StructField("parent_url", StringType()),
    StructField("base_domain", StringType()),
    StructField("seq", LongType()),
])

EVENT_COLS = ["seq", "round", "url", "parent_url", "depth", "host",
              "action", "delay_ms"]
EVENT_ACTIONS = ("fetched", "fetch_failed", "robots_denied", "deferred")


@dataclass
class CrawlConfig:
    max_depth: int = 2
    max_pages: int = 10
    failure_stop: int = 10
    max_links_per_page: int = MAX_LINKS_PER_PAGE
    default_budget: int | None = None       # None = unlimited (parity mode)
    politeness: dict[str, int] | None = None  # host -> budget
    robots: list[tuple[str, str, str]] | None = None  # (host, rule, prefix)
    # False = FIFO; True = north_rule queue (classifier + host in-degree +
    # recency); 'openmp' = the reference's combined insertion policy
    # (priority + diversity, insert at 0 / n/4 / n/2; crawler.c:693-731)
    priority: bool | str = False
    # 'auto' | 'exact' | 'scale': auto = exact greedy below ~5M candidates
    # (event-for-event serial parity), distributed two-window pass above
    # (drops only the revival quirk; see operators/arbitrate.py). Parity
    # suites pin 'exact'; a default user never gets a repartition(1) stage
    # on a big frontier.
    arbitration: str = "auto"
    use_bloom: bool = True
    max_rounds: int = 64                    # safety rail
    # trace=False: throughput mode - skips the event trace, dense seq
    # assignment and stop machinery (requires unbounded max_pages/
    # failure_stop); ordering keys stay deterministic but not FIFO-dense.
    # Exact-parity crawls use trace=True (default).
    trace: bool = True
    # merge url_seen deltas every k completed rounds (None = never);
    # bounds the multi-dir anti-join fan-in on long crawls
    compact_every: int | None = None
    # bucket count of a bucket-partitioned pages table (sources/tables.py
    # write_bucketed_pages); enables partition-pruned fetch scans for small
    # frontiers. None = unbucketed pages.
    pages_buckets: int | None = None
    # frontiers up to this size push their exact url list into the pages
    # scan (point-lookup pushdown; see _pushdown_small_frontier). "auto"
    # (default) resolves ONCE per crawl from the bucket files' sizes
    # (resolve_pushdown_max): one JVM-safe In chunk (512) when buckets
    # hold single-digit row groups - there extra branch scans cost more
    # than they prune (interleaved A/B on the politeness-stretched long
    # crawl: 40 s without mid-size pushdown vs 62 s with) - and
    # URL_PUSHDOWN_MAX (4096) when the average bucket file spans many row
    # groups, the 100 TB regime where O(k)-row-group point reads beat
    # scanning whole buckets. Any setting stays JVM-safe via <=512-value
    # chunking; pass an int (or None = JVM max) to pin the regime.
    url_pushdown_max: int | str | None = "auto"

    def to_json(self) -> dict:
        return {k: getattr(self, k) for k in (
            "max_depth", "max_pages", "failure_stop", "max_links_per_page",
            "default_budget", "politeness", "robots", "priority",
            "arbitration", "use_bloom", "max_rounds", "trace",
            "compact_every", "pages_buckets", "url_pushdown_max")}


@dataclass
class CrawlState:
    round: int = 0
    pages_crawled: int = 0
    fail_carry: int = 0
    next_seq: int = 0
    next_event_seq: int = 0
    next_frontier_rows: int = 0
    stopped: str | None = None
    metrics: list[dict] = field(default_factory=list)


def _round_dir(workdir: str, rnd: int) -> Path:
    return Path(workdir) / f"round={rnd:05d}"


def init_crawl(spark: SparkSession, seeds: list[str], workdir: str,
               config: CrawlConfig) -> CrawlState:
    """Normalize + dedup seeds (crawler.c:1046-1063), write the round-0
    frontier and seed url_seen delta."""
    from ..kernel.urls import extract_base_domain, normalize_url, url_host

    rows = []
    seen = set()
    seq = 0
    for s in seeds:
        ns = normalize_url(s)
        if not ns or ns in seen:
            continue
        seen.add(ns)
        rows.append((ns, url_host(ns), 1, None, extract_base_domain(s), seq))
        seq += 1
    d = _round_dir(workdir, -1)
    d.mkdir(parents=True, exist_ok=True)
    fdf = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    fdf.write.mode("overwrite").parquet(str(d / "frontier_next.parquet"))
    fdf.select("url").write.mode("overwrite").parquet(
        str(d / "url_seen_delta.parquet"))
    state = CrawlState(round=0, next_seq=seq, next_event_seq=0,
                       next_frontier_rows=len(rows))
    # the init manifest records round=-1 so load_state resumes AT round 0
    _write_manifest(d, CrawlState(round=-1, next_seq=seq,
                                  next_frontier_rows=len(rows)), config,
                    {"seeds": len(rows)})
    return state


def _write_manifest(d: Path, state: CrawlState, config: CrawlConfig,
                    metrics: dict) -> None:
    (d / "manifest.json").write_text(json.dumps({
        "round": state.round, "pages_crawled": state.pages_crawled,
        "fail_carry": state.fail_carry, "next_seq": state.next_seq,
        "next_event_seq": state.next_event_seq,
        "next_frontier_rows": state.next_frontier_rows,
        "stopped": state.stopped,
        "config": config.to_json(), "metrics": metrics,
    }, indent=1))


def load_state(workdir: str,
               from_round: int | None = None) -> tuple[CrawlState, CrawlConfig, int]:
    """Resume: find the latest committed round (manifest present), or the
    specific `from_round` snapshot. Returns (state, config, last_round)."""
    dirs = sorted(Path(workdir).glob("round=*"))
    last = None
    for d in dirs:
        if (d / "manifest.json").exists():
            if from_round is not None:
                if d == _round_dir(workdir, from_round):
                    last = d
            else:
                last = d
    if last is None:
        raise FileNotFoundError(
            f"no committed round{'' if from_round is None else f' {from_round}'}"
            f" under {workdir}")
    m = json.loads((last / "manifest.json").read_text())
    cfg_json = m["config"]
    robots = cfg_json.get("robots")
    if robots is not None:
        robots = [tuple(r) for r in robots]
    config = CrawlConfig(**{**cfg_json, "robots": robots})
    state = CrawlState(
        round=m["round"] + 1, pages_crawled=m["pages_crawled"],
        fail_carry=m["fail_carry"], next_seq=m["next_seq"],
        next_event_seq=m["next_event_seq"],
        next_frontier_rows=m.get("next_frontier_rows", 0),
        stopped=m["stopped"])
    return state, config, m["round"]


def compact_url_seen(spark: SparkSession, workdir: str,
                     upto_round: int) -> int:
    """Merge all url_seen deltas up to `upto_round` into the init delta dir
    and remove the per-round ones - bounds the multi-dir union cost for
    long crawls (call every k rounds at production scale). Returns the
    compacted row count."""
    import shutil as _sh

    seen = _read_url_seen(spark, workdir, upto_round)
    tmp = Path(workdir) / "_url_seen_compact.tmp"
    # the row count rides the write (no re-read count job)
    obs = Observation(f"compact_{upto_round}")
    seen.repartition(max(spark.sparkContext.defaultParallelism, 1)) \
        .observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.mode("overwrite").parquet(str(tmp))
    n = obs.get["n"]
    init = _round_dir(workdir, -1) / "url_seen_delta.parquet"
    _sh.rmtree(init, ignore_errors=True)
    tmp.rename(init)
    for r in range(0, upto_round):
        _sh.rmtree(_round_dir(workdir, r) / "url_seen_delta.parquet",
                   ignore_errors=True)
    # rewind barrier: resume_from cannot rewind past a compaction point
    # (per-round deltas before it no longer exist individually)
    (Path(workdir) / "_compacted_upto").write_text(str(upto_round - 1))
    return n


def _read_url_seen(spark: SparkSession, workdir: str, upto_round: int) -> DataFrame:
    paths = [str(_round_dir(workdir, r) / "url_seen_delta.parquet")
             for r in range(-1, upto_round)]
    paths = [p for p in paths if Path(p).exists()]
    # explicit schema: every delta is written as a single `url` column
    # (init_crawl and both round writers); skipping footer inference
    # removes one driver-synchronized 1-task job from every round
    return spark.read.schema("url string").parquet(*paths)


def _check_url_seen_layout(spark: SparkSession, workdir: str) -> None:
    """Resume guard: _read_url_seen applies the explicit `url string`
    schema, so a delta written with any other layout (a workdir from an
    older version) would read back as NULL urls and silently let seen
    urls through the anti-join. The init delta must be exactly that one
    column; anything else fails loudly."""
    path = _round_dir(workdir, -1) / "url_seen_delta.parquet"
    fields = [(f.name, f.dataType)
              for f in spark.read.parquet(str(path)).schema.fields]
    if fields != [("url", StringType())]:
        raise ValueError(
            f"cannot resume {workdir}: {path} holds columns {fields}, "
            "expected exactly one `url` string column (a workdir written "
            "by another version of the crawler)")


def _budgets_df(spark: SparkSession, config: CrawlConfig) -> DataFrame | None:
    if config.politeness is None:
        return None
    rows = [(h, b) for h, b in config.politeness.items() if h != "*"]
    if not rows:
        return None
    return spark.createDataFrame(rows, "host string, max_fetches_per_round int")


def _robots_df(spark: SparkSession, config: CrawlConfig) -> DataFrame | None:
    if not config.robots:
        return None
    return spark.createDataFrame(config.robots,
                                 "host string, rule string, path_prefix string")


def _want_bucket_prune(pages: DataFrame, config: CrawlConfig,
                       state: CrawlState) -> bool:
    """SHARED gate predicate (used by the standalone gate and the combined
    _prune_and_pushdown - one definition, so a threshold change cannot
    silently diverge between the two paths): bucket pruning is attempted
    only on a bucket-partitioned table with a frontier small enough
    (<= 4*B urls) that it plausibly misses buckets."""
    B = config.pages_buckets
    return (bool(B) and "bucket" in pages.columns
            and 0 < state.next_frontier_rows <= 4 * B)


def _pushdown_cap(max_urls: int | str | None) -> int:
    """SHARED pushdown-cap clamp (see _want_bucket_prune note). An
    unresolved "auto" (config used outside run_crawl, which is where the
    file-size resolution happens) falls back to the conservative
    one-chunk cap; None = no user cap beyond the JVM-safe max."""
    if max_urls == "auto":
        max_urls = URL_PUSHDOWN_CHUNK
    return min(max_urls if max_urls is not None else URL_PUSHDOWN_MAX,
               URL_PUSHDOWN_MAX)


def _want_url_pushdown(max_urls: int | str | None,
                       state: CrawlState) -> bool:
    """SHARED gate predicate for the url In-filter pushdown regime."""
    return 0 < state.next_frontier_rows <= _pushdown_cap(max_urls)


# "auto" pushdown-cap resolution: a bucket file at/above this size is
# assumed to span several parquet row groups (~128 MB = the spark/parquet
# default row-group target), so In-filter point lookups can actually SKIP
# row groups inside it and the wide cap wins; below it a bucket is ~one
# row group, every In branch re-reads the same groups, and the
# conservative one-chunk cap wins (measured A/B - see the CrawlConfig
# field comment).
AUTO_PUSHDOWN_BYTES_PER_BUCKET = 128 * 1024 * 1024


def resolve_pushdown_max(pages: DataFrame,
                         config: CrawlConfig) -> int | None:
    """Resolve CrawlConfig.url_pushdown_max="auto" to a concrete cap from
    the pages table's file sizes - driver-side file METADATA only, once
    per crawl (run_crawl), never per round. Conservative (one-chunk cap)
    whenever sizes can't be read cheaply: unbucketed table, non-local
    paths (object stores need a listing API call per file), empty table.
    An explicit int/None passes through untouched."""
    if config.url_pushdown_max != "auto":
        return config.url_pushdown_max
    if not config.pages_buckets or "bucket" not in pages.columns:
        return URL_PUSHDOWN_CHUNK
    import os as _os

    total = 0
    for f in pages.inputFiles():
        if not f.startswith("file:"):
            return URL_PUSHDOWN_CHUNK
        try:
            total += _os.path.getsize(f[len("file:"):])
        except OSError:
            return URL_PUSHDOWN_CHUNK
    if total / config.pages_buckets >= AUTO_PUSHDOWN_BYTES_PER_BUCKET:
        return URL_PUSHDOWN_MAX
    return URL_PUSHDOWN_CHUNK


def _prune_pages_by_bucket(pages: DataFrame, frontier: DataFrame,
                           config: CrawlConfig,
                           state: CrawlState) -> tuple[DataFrame, bool,
                                                       int | None]:
    """Partition-prune a bucket-partitioned pages table (sources/tables.py
    write_bucketed_pages) to the frontier's buckets. Semantics-neutral: a
    pruned page can never match the fetch join (its bucket holds no frontier
    url). Skipped for big frontiers (expected to touch every bucket) so the
    tiny bucket-list collect only runs when it can actually prune - this is
    what makes a 32-URL round against a 100 TB corpus cost 32 buckets, not a
    full scan. Returns (pages, applied, n_buckets_kept)."""
    if not _want_bucket_prune(pages, config, state):
        return pages, False, None
    B = config.pages_buckets
    bks = sorted({r["b"] for r in frontier.select(
        F.pmod(F.xxhash64("url"), F.lit(B)).cast("int").alias("b"))
        .collect()})
    if len(bks) >= B:
        return pages, False, None
    return pages.where(F.col("bucket").isin(bks)), True, len(bks)


# frontier sizes up to this push their url list into the pages scan; the
# collected list is a slim single column (4096 urls ~ 400 KB driver-side)
URL_PUSHDOWN_MAX = 4096
# ...but never as ONE In list: Spark's ParquetFilters lowers
# In(url, v1..vN) to a LEFT-DEEP binary Or tree (reduceLeft) and
# parquet-mr evaluates it by recursive visitor - stack depth O(N). A
# single 4096-value list blew the ~1 MB task stack (StackOverflowError
# inside FileScanRDD.hasNext, surfacing as scala.MatchError from
# FileDataSourceV2.attachFilePath and killing the crawl round); 579
# values ran fine. So the sorted url list is CHUNKED into <=512-value
# In filters (~300 KB recursion, >3x headroom - a hard JVM-safety bound,
# not a tuning knob) and the per-chunk scans are unioned. Sorting before
# chunking makes each chunk a contiguous url range, so each branch scan
# carries a tight implicit min/max over the url-sorted row groups. The
# session's parquet.pushdown.inFilterThreshold sits just above the chunk
# size: each chunk pushes whole, anything accidentally bigger degrades to
# Spark's safe min/max range instead of a deep Or tree.
URL_PUSHDOWN_CHUNK = 512


def _pushdown_small_frontier(pages: DataFrame, frontier: DataFrame,
                             state: CrawlState,
                             max_urls: int | None = None
                             ) -> tuple[DataFrame, bool]:
    """Point-lookup pushdown for small rounds: filter the pages table to
    the frontier's exact urls so the predicate reaches the parquet reader
    (PushedFilters: In(url, ...)). On a url-sorted bucket layout
    (sources/tables.write_bucketed_pages) row-group min/max stats and page
    indexes then skip everything but the row groups holding those urls -
    without it, a 32-url round decompresses every page body in the
    frontier's buckets just to probe the fetch join. Semantics-neutral for
    BOTH fetch-join forms: the filter keeps every page whose url appears
    in the (pre-gate) frontier, a superset of any fetchset, so inner joins
    lose nothing and the exact path's LEFT join still sees every possible
    match (absent urls still come back null = failed fetch).

    `max_urls` (CrawlConfig.url_pushdown_max) gates the regime; it is
    clamped to URL_PUSHDOWN_MAX, and any admitted list is chunked to
    <=URL_PUSHDOWN_CHUNK-value In filters (JVM stack safety).
    The collected list is deduplicated as a Python set: at most
    URL_PUSHDOWN_MAX rows come back, so that costs less than a distinct()
    shuffle job.
    Returns (pages, applied)."""
    if not _want_url_pushdown(max_urls, state):
        return pages, False
    urls = sorted({r["url"] for r in frontier.select("url").collect()})
    if not urls or len(urls) > _pushdown_cap(max_urls):
        return pages, False
    return _chunked_url_filter(pages, urls), True


def _chunked_url_filter(pages: DataFrame, urls: list[str]) -> DataFrame:
    urls = sorted(urls)  # contiguous chunks -> tight min/max per branch
    parts = [pages.where(F.col("url").isin(urls[i:i + URL_PUSHDOWN_CHUNK]))
             for i in range(0, len(urls), URL_PUSHDOWN_CHUNK)]
    out = parts[0]
    for p in parts[1:]:  # disjoint chunks - union adds no duplicates
        out = out.unionByName(p)
    return out


def _coalesce_small_round(df: DataFrame, state: CrawlState,
                          scan_bounded: bool,
                          k_files: int | None = None) -> DataFrame:
    """Cap task fan-out on small rounds: a 32-url round otherwise schedules
    one extraction task per pruned bucket file (each paying a Python-worker
    Arrow round-trip of a near-empty batch) and commits that many parquet
    files. Coalesce (no shuffle - html bytes stay in place) to ~1 task per
    128 frontier urls, so tiny rounds run 2-4 tasks. Big rounds (> 4096)
    keep full scan parallelism.

    `scan_bounded` MUST be the flag returned by _prune_and_pushdown: the
    coalesce premise ('the scan is a handful of pruned bucket files /
    pushed row groups') only holds when bucket pruning or url pushdown
    actually bounded the pages scan. Without it (e.g. unbucketed corpus,
    513-4096-url frontier over the default url_pushdown_max=512) the round
    joins against the FULL corpus scan, and coalescing that to n//128
    tasks would serialize a large scan a 100 TB table cannot afford - so
    we keep full scan parallelism instead (ADVICE r4 #1).

    `k_files` (also from _prune_and_pushdown) is the number of bucket
    files the bounded scan still touches. Frontier size alone is the
    wrong cost model once pages are big: 150 urls hash into ~58 of 64
    buckets, so n//128 = 2 tasks would serially re-read ~90% of the
    corpus bytes even though the scan is formally 'bounded' (measured:
    a 150-page round costing 1.4x a FULL 32-task scan at pad_paras=384)
    - and the same 2 tasks at every pinning zeroes that round's N->4N
    scaling. Floor the task count at ~one task per two scanned files so
    scan bytes stay spread while near-empty Arrow batches still merge.
    Row content is untouched; only task count and output-file count (and
    thus the informational lineage_partition ids) change."""
    n = state.next_frontier_rows
    if not scan_bounded or not (0 < n <= 4096):
        return df
    tasks = max(2, n // 128)
    if k_files is not None:
        tasks = max(tasks, (k_files + 1) // 2)
    return df.coalesce(tasks)


def _prune_and_pushdown(pages: DataFrame, frontier: DataFrame,
                        config: CrawlConfig,
                        state: CrawlState) -> tuple[DataFrame, bool,
                                                    int | None]:
    """Bucket pruning + point-lookup pushdown with ONE driver job: when the
    frontier is small enough for the url pushdown, a single collect yields
    both the url list and the bucket set (bucket is a function of url),
    instead of the two separate collects the standalone
    gates would run - one less per-round sync point on exactly the small
    rounds where fixed costs dominate the wall. Falls back to the
    standalone gates when only one regime applies. Semantics identical to
    applying _prune_pages_by_bucket then _pushdown_small_frontier; the gate
    predicates (_want_bucket_prune / _want_url_pushdown / _pushdown_cap)
    are shared with the standalone paths so the regimes cannot drift.
    Returns (pages, scan_bounded, k_files): scan_bounded is True iff
    pruning or pushdown actually narrowed the scan; k_files is how many
    bucket files that narrowed scan still touches (len(bks) when the
    bucket set is known, the full bucket count when only the url filter
    applied on a bucketed table, None on an unbucketed one) - the cost
    signal _coalesce_small_round needs to avoid serializing a scan whose
    frontier is small but whose bytes are not."""
    want_push = _want_url_pushdown(config.url_pushdown_max, state)
    want_prune = _want_bucket_prune(pages, config, state)
    B = config.pages_buckets if "bucket" in pages.columns else None
    if not (want_push and want_prune):
        pages, pruned, kb = _prune_pages_by_bucket(pages, frontier, config,
                                                   state)
        pages, pushed = _pushdown_small_frontier(pages, frontier, state,
                                                 config.url_pushdown_max)
        return pages, pruned or pushed, (kb if pruned
                                         else B if pushed else None)
    cap = _pushdown_cap(config.url_pushdown_max)
    rows = frontier.select(
        "url", F.pmod(F.xxhash64("url"), F.lit(B)).cast("int").alias("b")
    ).collect()
    bounded = False
    k_files: int | None = None
    bks = sorted({r["b"] for r in rows})
    if len(bks) < B:
        pages = pages.where(F.col("bucket").isin(bks))
        bounded = True
        k_files = len(bks)
    urls = sorted({r["url"] for r in rows})
    if urls and len(urls) <= cap:
        pages = _chunked_url_filter(pages, urls)
        if not bounded:
            k_files = B
        bounded = True
    return pages, bounded, k_files


def run_round_fast(spark: SparkSession, pages: DataFrame, workdir: str,
                   state: CrawlState, config: CrawlConfig) -> dict:
    """Throughput-mode round (config.trace=False): same dataflow as
    run_round minus the event trace, dense-seq assignment and stop cutoffs -
    about 11 Spark jobs per round against the traced round's ~25. Requires
    effectively-unbounded max_pages/failure_stop (asserted); frontier
    ordering keys remain deterministic (xxhash64) so dedup tie-breaks are
    reproducible, but are NOT the serial FIFO trace."""
    assert config.max_pages >= 10**9 and config.failure_stop >= 10**9, \
        "trace=False requires unbounded stop conditions"
    t0 = time.monotonic()
    stage_wall: dict[str, float] = {}
    _last = [t0]

    def _mark(stage: str) -> None:
        now = time.monotonic()
        stage_wall[stage] = round(now - _last[0], 3)
        _last[0] = now

    rnd = state.round
    d = _round_dir(workdir, rnd)
    d.mkdir(parents=True, exist_ok=True)
    # explicit schema (frontier files are always FRONTIER_SCHEMA): no
    # footer-inference job at the top of the round
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
        str(_round_dir(workdir, rnd - 1) / "frontier_next.parquet"))
    pages, scan_bounded, k_files = _prune_and_pushdown(pages, frontier,
                                                      config, state)

    f = frontier.where(valid_crawl_url_col(F.col("url"), F.col("base_domain")))
    f = apply_robots(f, _robots_df(spark, config))
    f = f.where(F.col("robots_ok")).drop("robots_ok")
    default_budget = (config.politeness or {}).get("*")
    ranked = apply_budget(f, _budgets_df(spark, config), default_budget)
    deferred = ranked.where(~F.col("fetch_now")).drop("fetch_now", "host_rank")
    fetchset = ranked.where(F.col("fetch_now")).drop("fetch_now", "host_rank")

    # INNER fetch join: failed fetches (absent urls) simply vanish - the
    # fast path doesn't trace events. Inner (unlike the exact path's left
    # join) lets Spark broadcast the small FRONTIER side, so the corpus scan
    # stays in place and html bytes never enter an exchange. The hint is
    # gated on the manifest-known frontier row count (estimates alone
    # under-broadcast once frontiers pass ~10 MB).
    if 0 < state.next_frontier_rows <= 3_000_000:
        fetchset = F.broadcast(fetchset)
    enriched = fetchset.join(pages.select("url", "html", "warc_ts", "lang"),
                             "url")
    succ = enriched.where(
        (F.length("html") > 100) & is_html_content_url_col(F.col("url")))
    succ = succ.withColumn("_skip_links",
                           F.col("depth") >= F.lit(config.max_depth))
    succ = _coalesce_small_round(succ, state, scan_bounded, k_files)
    extracted = html_text_and_links(succ, skip_links_col="_skip_links")
    extracted = (extracted.drop("html")
                 .withColumn("lineage_partition", F.spark_partition_id()))

    # ONE materialization: extraction runs during the pages.parquet write
    # (links + base_domain stored too - useful lineage); candidates re-read
    # the written file with `text` pruned away, so page bodies are never
    # double-copied through the block manager.
    pages_out = extracted.select(
        "url", F.lit(rnd).alias("round"), "seq", "depth", "parent_url",
        "host", "text", "links", "base_domain", "warc_ts", "lang",
        "lineage_partition")
    pages_out.write.mode("overwrite").parquet(str(d / "pages.parquet"))
    # re-read with the schema we just wrote (exact by construction):
    # skips the footer-inference job between the write and the arbitrate
    stored = spark.read.schema(pages_out.schema).parquet(
        str(d / "pages.parquet"))
    _mark("extract_write")

    # Final-round short-circuit: without politeness deferrals, round r holds
    # exactly depth-(r+1) pages (BFS invariant), so when that depth reaches
    # max_depth no candidate can exist - skip the whole explode/anti-join/
    # arbitrate pipeline (~1.5 s of pure plan overhead on empty input at
    # any parallelism).
    if config.politeness is None and rnd + 1 >= config.max_depth:
        children = spark.createDataFrame(
            [], "parent_seq long, parent_url_c string, parent_depth int, "
                "base_domain string, link_idx int, url string")
    else:
        cands = (
            stored.where(F.col("depth") < config.max_depth)
            .select(F.col("seq").alias("parent_seq"),
                    F.col("url").alias("parent_url_c"),
                    F.col("depth").alias("parent_depth"),
                    F.col("base_domain"),
                    F.posexplode("links").alias("link_idx", "url"))
            .where(valid_crawl_url_col(F.col("url"), F.col("base_domain")))
        )
        url_seen = _read_url_seen(spark, workdir, rnd)
        children = arbitrate(seen_anti_join(cands, url_seen),
                             cap=config.max_links_per_page,
                             mode="scale").localCheckpoint(eager=True)
    _mark("arbitrate_ckpt")

    child_rows = children.select(
        "url", host_col(F.col("url")).alias("host"),
        (F.col("parent_depth") + 1).alias("depth"),
        F.col("parent_url_c").alias("parent_url"), "base_domain",
        F.xxhash64("url").alias("seq"))
    next_frontier = deferred.select(*[f_.name for f_ in FRONTIER_SCHEMA.fields]) \
        .unionByName(child_rows.select(
            *[f_.name for f_ in FRONTIER_SCHEMA.fields]))

    # Row counts ride the write jobs as Observations instead of separate
    # count actions: n_next was a serial post-barrier read-back job and
    # n_children a fourth pool job - on small rounds those two extra
    # driver syncs are a measurable slice of the ~per-round fixed floor
    # that caps whole-crawl scaling (round-4 verdict #7).
    obs_frontier = Observation(f"r{rnd}_frontier")
    obs_children = Observation(f"r{rnd}_children")
    frontier_out = next_frontier.observe(obs_frontier,
                                         F.count(F.lit(1)).alias("n"))
    children_out = children.observe(obs_children,
                                    F.count(F.lit(1)).alias("n"))
    jobs = {
        "w_frontier": lambda: frontier_out.write.mode("overwrite").parquet(
            str(d / "frontier_next.parquet")),
        "w_seen": lambda: children_out.select("url").write.mode("overwrite")
        .parquet(str(d / "url_seen_delta.parquet")),
        "lineage": lambda: (stored.groupBy("lineage_partition")
                            .agg(F.count("*").alias("cnt")).collect()),
    }
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = {k: pool.submit(fn) for k, fn in jobs.items()}
        res = {k: fu.result() for k, fu in futs.items()}
    _mark("writes_and_metrics")
    n_next = obs_frontier.get["n"]
    part_lineage = [{"partition": r["lineage_partition"], "pages": r["cnt"]}
                    for r in res["lineage"]]
    fetched = sum(p["pages"] for p in part_lineage)
    metrics = {
        "round": rnd, "fetched": fetched, "enqueued": obs_children.get["n"],
        "lineage_partitions": part_lineage, "next_frontier_rows": n_next,
        "trace": False, "wall_sec": round(time.monotonic() - t0, 3),
        "stage_wall": stage_wall,
    }
    (d / "metrics.json").write_text(json.dumps(metrics, indent=1))
    state.pages_crawled += fetched
    state.next_frontier_rows = n_next
    _write_manifest(d, state, config, metrics)
    return metrics


def run_round(spark: SparkSession, pages: DataFrame, workdir: str,
              state: CrawlState, config: CrawlConfig) -> dict:
    """Execute one BSP round; writes the round snapshot; mutates state."""
    if not config.trace:
        return run_round_fast(spark, pages, workdir, state, config)
    t0 = time.monotonic()
    stage_wall: dict[str, float] = {}
    _last = [t0]

    def _mark(stage: str) -> None:
        now = time.monotonic()
        stage_wall[stage] = round(now - _last[0], 3)
        _last[0] = now

    rnd = state.round
    d = _round_dir(workdir, rnd)
    d.mkdir(parents=True, exist_ok=True)
    # explicit schema: see run_round_fast's frontier-read note
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
        str(_round_dir(workdir, rnd - 1) / "frontier_next.parquet"))
    pages, scan_bounded, k_files = _prune_and_pushdown(pages, frontier,
                                                      config, state)

    # ---- gates: validity (silent), robots, politeness ----
    f = frontier.where(valid_crawl_url_col(F.col("url"), F.col("base_domain")))
    f = apply_robots(f, _robots_df(spark, config))
    allowed = f.where(F.col("robots_ok")).drop("robots_ok")
    denied = f.where(~F.col("robots_ok")).drop("robots_ok")

    default_budget = None
    if config.politeness is not None:
        default_budget = config.politeness.get("*")
    ranked = apply_budget(allowed, _budgets_df(spark, config), default_budget)

    # ---- fetch gate: ONE checkpoint of the whole budget output, left-joined
    # to a slim projection (html never shuffles). Only fetch_now rows probe
    # the pages (a deferred row never matches, so a url captured twice
    # cannot duplicate it); meta and deferred are filters of the checkpoint,
    # and the stop-cutoff aggregates ride the checkpoint job.
    page_len = pages.select(F.col("url").alias("_purl"),
                            F.length("html").alias("_hlen"))
    fetch_now = F.col("fetch_now")
    obs_gate = Observation(f"r{rnd}_gate")
    gate = (ranked.join(page_len, (F.col("url") == F.col("_purl")) & fetch_now,
                        "left")
            .withColumn("ok", fetch_now & F.col("_hlen").isNotNull()
                        & (F.col("_hlen") > 100)
                        & is_html_content_url_col(F.col("url")))
            .drop("_purl", "_hlen")
            .observe(obs_gate,
                     F.count(F.when(fetch_now, 1)).alias("n"),
                     F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
                     F.max(F.when(F.col("ok"), F.col("seq")))
                     .alias("max_ok_seq"))
            .localCheckpoint(eager=True))
    meta = gate.where(fetch_now).drop("fetch_now")
    deferred = gate.where(~fetch_now).drop("fetch_now", "ok")
    agg = obs_gate.get
    _mark("fetch_gate")

    # ---- stop cutoff (maxPages + consecutive failures) ----
    remaining = config.max_pages - state.pages_crawled
    n_att, n_ok = agg["n"], agg["n_ok"]
    n_fail = n_att - n_ok
    stop_seq = None
    event_cut = None
    # fail_carry = the failed attempts after the last success; when this
    # round has a success, the events write counts them (trail_after)
    trail_after = None
    if n_ok < remaining and state.fail_carry + n_fail < config.failure_stop:
        # fast path: no stop can bind; everyone attempts
        attempted = meta.withColumn("attempted", F.lit(True))
        if agg["max_ok_seq"] is not None:
            trail_after = agg["max_ok_seq"]
        else:
            state.fail_carry += n_att
    else:
        # slow path (final round): exact ordered cutoff. Window is global but
        # only over this round's slim attempt rows, and runs at most once per
        # crawl (the crawl ends here).
        w_before = Window.orderBy("seq").rowsBetween(
            Window.unboundedPreceding, -1)
        ordered = (
            meta.withColumn("_cum_ok", F.coalesce(
                F.sum(F.col("ok").cast("long")).over(w_before), F.lit(0)))
            .withColumn("_pos", F.row_number().over(Window.orderBy("seq")))
            .withColumn("_last_ok_pos", F.max(
                F.when(F.col("ok"), F.col("_pos")).otherwise(None)).over(w_before))
            .withColumn("_consec", F.when(
                F.col("_last_ok_pos").isNotNull(),
                F.col("_pos") - 1 - F.col("_last_ok_pos"))
                .otherwise(F.col("_pos") - 1 + F.lit(state.fail_carry)))
            .withColumn("attempted",
                        (F.col("_cum_ok") < F.lit(remaining))
                        & (F.col("_consec") < F.lit(config.failure_stop)))
        )
        ordered = ordered.localCheckpoint(eager=True)
        agg2 = ordered.agg(
            F.min(F.when(~F.col("attempted"), F.col("seq"))).alias("stop"),
            # seq of the attempt that consumes the LAST remaining page /
            # the failure that completes the consecutive-failure run: the
            # serial loop breaks at its NEXT top-of-loop check, so every
            # event row (attempt, deferral, robots denial) with a larger
            # seq is never processed (crawler.c:1075)
            F.min(F.when(F.col("ok")
                         & (F.col("_cum_ok") + 1 == F.lit(remaining)),
                         F.col("seq"))).alias("complete"),
            F.min(F.when(~F.col("ok")
                         & (F.col("_consec") + 1
                            == F.lit(config.failure_stop)),
                         F.col("seq"))).alias("fail_complete"),
        ).collect()[0]
        stop_seq = agg2["stop"]
        cuts = [c for c in (agg2["complete"], agg2["fail_complete"])
                if c is not None]
        event_cut = min(cuts) if cuts else None
        attempted = ordered.drop("_cum_ok", "_pos", "_last_ok_pos", "_consec")
        if stop_seq is not None:
            state.stopped = ("max_pages"
                             if n_ok >= remaining else "failure_stop")
            # recompute which actually binds at the stop position
            first = (ordered.where(~F.col("attempted"))
                     .orderBy("seq").select("_cum_ok", "_consec").first())
            if first is not None:
                state.stopped = ("max_pages" if first["_cum_ok"] >= remaining
                                 else "failure_stop")
        # fail carry (only relevant if no stop; then every row attempted)
        elif agg["max_ok_seq"] is not None:
            trail_after = agg["max_ok_seq"]
        else:
            state.fail_carry += n_att

    _mark("stop_cutoff")
    att = attempted.where(F.col("attempted"))
    if stop_seq is not None:
        denied = denied.where(F.col("seq") < stop_seq)
        deferred = deferred.where(F.col("seq") < stop_seq)
    if event_cut is not None:
        denied = denied.where(F.col("seq") <= event_cut)
        deferred = deferred.where(F.col("seq") <= event_cut)

    # ---- events ----
    ev_att = att.select(
        "seq", "url", "parent_url", "depth", "host",
        F.when(F.col("ok"), F.lit("fetched")).otherwise(F.lit("fetch_failed"))
        .alias("action"),
        delay_ms_col(F.col("url")).alias("delay_ms"))
    ev_den = denied.select("seq", "url", "parent_url", "depth", "host",
                           F.lit("robots_denied").alias("action"),
                           F.lit(0).alias("delay_ms"))
    ev_def = deferred.select("seq", "url", "parent_url", "depth", "host",
                             F.lit("deferred").alias("action"),
                             F.lit(0).alias("delay_ms"))
    events = ev_att.unionByName(ev_den).unionByName(ev_def)
    events, n_events = with_global_seq_counted(
        events.withColumnRenamed("seq", "frontier_seq"),
        ["frontier_seq"], "event_seq", offset=state.next_event_seq)
    events = events.withColumn("round", F.lit(rnd))
    _mark("events_seq")

    # ---- extraction (one Arrow pass; html joined only for successes) ----
    succ = att.where(F.col("ok")).drop("ok", "attempted")
    succ = succ.withColumn("_skip_links",
                           F.col("depth") >= F.lit(config.max_depth))
    if 0 < state.next_frontier_rows <= 3_000_000:
        succ = F.broadcast(succ)
    enriched = succ.join(pages.select("url", "html", "warc_ts", "lang"), "url")
    enriched = _coalesce_small_round(enriched, state, scan_bounded,
                                     k_files)
    extracted = html_text_and_links(enriched, skip_links_col="_skip_links")
    extracted = (extracted.drop("html")  # never checkpoint raw bytes
                 .withColumn("lineage_partition", F.spark_partition_id()))
    extracted = extracted.localCheckpoint(eager=True)  # cut html lineage
    _mark("extraction")

    # ---- candidate links -> next frontier ----
    expands = (F.col("depth") < config.max_depth) & ~F.col("_skip_links")
    cands = (
        extracted.where(expands)
        .select(F.col("seq").alias("parent_seq"),
                F.col("url").alias("parent_url_c"),
                F.col("depth").alias("parent_depth"),
                F.col("base_domain"),
                F.posexplode("links").alias("link_idx", "url"))
        .where(valid_crawl_url_col(F.col("url"), F.col("base_domain")))
    )
    url_seen = _read_url_seen(spark, workdir, rnd)
    new_cands = seen_anti_join(cands, url_seen)
    # auto-mode hint: candidates <= pages_ok x links/page; 256 is a loose
    # links-per-page bound for the switch (both modes are correct; the hint
    # only picks the strategy without an extra count job).
    children = arbitrate(new_cands, cap=config.max_links_per_page,
                         mode=config.arbitration,
                         count_hint=n_ok * 256).localCheckpoint(eager=True)
    _mark("arbitration")

    # ---- next frontier: deferred first (old seq order), then children.
    # Priority mode (north_rule queue): classifier desc, host in-degree
    # among this round's children desc, discovery order as recency
    # tie-break - mirrors kernel/bfs.py exactly.
    child_rows = children.withColumn("host", host_col(F.col("url")))
    if config.priority == "openmp":
        # OpenMP combined insertion policy (crawler.c:693-731): exact queue
        # position from the sequential insertion simulation (mirrors
        # kernel/bfs.py's openmp branch event-for-event).
        score = (url_priority_col(F.col("url"), F.col("parent_url_c"))
                 + url_diversity_col(F.col("url"))).cast("int")
        child_rows = openmp_queue_positions(
            child_rows.withColumn("_score", score)).drop("_score")
        k1 = F.col("_qpos")
        k1b = F.lit(0).cast("long")
    elif config.priority:
        indeg = child_rows.groupBy("host").agg(
            F.count("*").alias("_indeg"))
        child_rows = child_rows.join(F.broadcast(indeg), "host")
        k1 = (-url_priority_col(F.col("url"), F.col("parent_url_c"))) \
            .cast("long")
        k1b = (-F.col("_indeg")).cast("long")
    else:
        k1 = F.lit(0).cast("long")
        k1b = F.lit(0).cast("long")
    child_rows = child_rows.select(
        "url", "host",
        (F.col("parent_depth") + 1).alias("depth"),
        F.col("parent_url_c").alias("parent_url"),
        "base_domain",
        F.lit(1).alias("_k0"), k1.alias("_k1"), k1b.alias("_k1b"),
        F.col("parent_seq").alias("_k2"), F.col("link_idx").alias("_k3"))
    def_rows = deferred.select(
        "url", "host", "depth", "parent_url", "base_domain",
        F.lit(0).alias("_k0"), F.lit(0).cast("long").alias("_k1"),
        F.lit(0).cast("long").alias("_k1b"),
        F.col("seq").alias("_k2"), F.lit(0).alias("_k3"))
    nxt = def_rows.unionByName(child_rows)
    if state.stopped:
        nxt = nxt.limit(0)
    next_frontier, n_next = with_global_seq_counted(
        nxt, ["_k0", "_k1", "_k1b", "_k2", "_k3"], "seq",
        offset=state.next_seq)
    next_frontier = next_frontier.drop("_k0", "_k1", "_k1b", "_k2", "_k3") \
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    _mark("frontier_seq")

    # ---- persist snapshot from parallel threads: every write reads
    # already-materialized (checkpointed) inputs, so they are independent
    # jobs the scheduler can interleave (manifest still last = commit
    # marker). The round's counts ride the writes as Observations - each
    # on a write that always runs over its whole checkpoint, never inside
    # a subplan the optimizer may prune.
    action = F.col("action")
    obs_ev = Observation(f"r{rnd}_events")
    ev_out = (events.select("event_seq",
                            *[c for c in EVENT_COLS if c != "seq"],
                            "frontier_seq")
              .withColumnRenamed("event_seq", "seq")
              .observe(obs_ev,
                       *[F.count(F.when(action == a, 1)).alias(a)
                         for a in EVENT_ACTIONS],
                       F.sum("delay_ms").alias("delay"),
                       F.count(F.when((action == "fetch_failed")
                                      & (F.col("frontier_seq")
                                         > F.lit(trail_after)), 1))
                       .alias("trailing_fail")))
    # candidates = the valid links of expanding pages, i.e. cands' rows
    obs_pages = Observation(f"r{rnd}_pages")
    valid_links = F.filter("links", lambda u: valid_crawl_url_col(
        u, F.col("base_domain")))
    pages_out = (extracted.observe(
        obs_pages, F.sum(F.when(expands & F.col("links").isNotNull(),
                                F.size(valid_links))).alias("candidates"))
        .select("url", F.lit(rnd).alias("round"), "seq", "depth",
                "parent_url", "host", "text", "warc_ts", "lang",
                "lineage_partition"))
    obs_seen = Observation(f"r{rnd}_seen")
    seen_out = children.select("url").observe(
        obs_seen, F.count(F.lit(1)).alias("n"))
    jobs = {
        "w_events": lambda: ev_out.write.mode("overwrite").parquet(
            str(d / "events.parquet")),
        "w_pages": lambda: pages_out.write.mode("overwrite").parquet(
            str(d / "pages.parquet")),
        "w_frontier": lambda: next_frontier.write.mode("overwrite").parquet(
            str(d / "frontier_next.parquet")),
        "w_seen": lambda: seen_out.write.mode("overwrite").parquet(
            str(d / "url_seen_delta.parquet")),
        "lineage": lambda: (extracted.groupBy("lineage_partition")
                            .agg(F.count("*").alias("cnt")).collect()),
    }
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = {k: pool.submit(fn) for k, fn in jobs.items()}
        res = {k: f.result() for k, f in futs.items()}
    ev_obs = obs_ev.get
    ev_counts = {a: ev_obs[a] for a in EVENT_ACTIONS if ev_obs[a]}
    delay_sum = ev_obs["delay"] or 0
    if trail_after is not None:
        state.fail_carry = ev_obs["trailing_fail"]
    fetched = ev_counts.get("fetched", 0)
    part_lineage = [
        {"partition": r["lineage_partition"], "pages": r["cnt"]}
        for r in res["lineage"]]
    n_children = obs_seen.get["n"]
    n_cands = obs_pages.get["candidates"] or 0
    _mark("writes_and_metrics")
    metrics = {
        "round": rnd, "events": ev_counts, "fetched": fetched,
        "candidates": n_cands, "enqueued": n_children,
        "dedup_dropped": n_cands - n_children,
        "politeness_delay_ms_total": int(delay_sum),
        "lineage_partitions": part_lineage,
        "next_frontier_rows": n_next,
        "wall_sec": round(time.monotonic() - t0, 3),
        "stage_wall": stage_wall,
    }
    (d / "metrics.json").write_text(json.dumps(metrics, indent=1))

    # ---- advance state ----
    state.pages_crawled += fetched
    state.next_frontier_rows = n_next
    state.next_seq += n_next
    state.next_event_seq += n_events
    if not state.stopped:
        if state.pages_crawled >= config.max_pages:
            state.stopped = "max_pages"
        elif state.fail_carry >= config.failure_stop:
            state.stopped = "failure_stop"
    _write_manifest(d, state, config, metrics)
    return metrics


def run_crawl(spark: SparkSession, pages: DataFrame, seeds: list[str],
              workdir: str, config: CrawlConfig | None = None,
              resume: bool = False,
              resume_from: int | None = None,
              overwrite: bool = False) -> CrawlState:
    """Drive rounds until a stop condition (crawler.c:1075 analog) or the
    frontier drains. `resume=True` continues from the last committed round
    snapshot instead of re-initializing; `resume_from=r` rewinds to round
    r's snapshot FIRST (discarding every later round's outputs - each round
    dir is self-contained, so dropping the later dirs restores the exact
    post-r state; north_star: "resumes exactly from any checkpoint").

    A fresh (non-resume) crawl into a workdir holding committed rounds
    DESTROYS those checkpoints, so it requires `overwrite=True` - a
    forgotten --resume must not silently erase a long crawl's snapshots."""
    import shutil as _sh
    from dataclasses import replace as _replace

    config = config or CrawlConfig()
    if config.url_pushdown_max == "auto":
        # resolve once from file metadata; manifests then carry the
        # resolved int, so resumes keep the same regime
        config = _replace(config,
                          url_pushdown_max=resolve_pushdown_max(pages,
                                                                config))
    if resume_from is not None:
        marker = Path(workdir) / "_compacted_upto"
        if marker.exists() and resume_from < int(marker.read_text()):
            raise ValueError(
                f"cannot resume from round {resume_from}: url_seen deltas "
                f"up to round {marker.read_text()} were compacted away")
        state, config, _last = load_state(workdir, from_round=resume_from)
        _check_url_seen_layout(spark, workdir)
        for d in sorted(Path(workdir).glob("round=*")):
            r = int(d.name.split("=")[1])
            if r > resume_from:
                _sh.rmtree(d, ignore_errors=True)
        if state.stopped:
            return state
    elif resume:
        state, config, _last = load_state(workdir)
        _check_url_seen_layout(spark, workdir)
        if state.stopped:
            return state
    else:
        # Fresh (non-resume) crawl into a reused workdir: drop every prior
        # round snapshot first. Leaving them would mix the previous crawl's
        # later rounds into the round=*/pages.parquet glob that /api/status,
        # /api/metrics and index builds read (colliding seq-based doc_ids),
        # and a stale _compacted_upto marker would block legitimate rewinds.
        # Guard: deleting committed rounds is destructive, so it must be
        # explicitly requested (a forgotten --resume is the failure mode).
        committed = [d.name for d in sorted(Path(workdir).glob("round=*"))
                     if (d / "manifest.json").exists()
                     and not d.name.startswith("round=-")]
        if committed and not overwrite:
            raise ValueError(
                f"workdir {workdir} holds {len(committed)} committed crawl "
                "round(s); pass resume=True/resume_from to continue them, "
                "or overwrite=True to discard them and start fresh")
        for d in sorted(Path(workdir).glob("round=*")):
            _sh.rmtree(d, ignore_errors=True)
        (Path(workdir) / "_compacted_upto").unlink(missing_ok=True)
        state = init_crawl(spark, seeds, workdir, config)
    while state.round < config.max_rounds and not state.stopped:
        if state.next_frontier_rows == 0:
            state.stopped = "frontier_empty"
            break
        m = run_round(spark, pages, workdir, state, config)
        state.metrics.append(m)
        state.round += 1
        if (config.compact_every
                and state.round % config.compact_every == 0
                and not state.stopped):
            compact_url_seen(spark, workdir, state.round)
    if not state.stopped and state.next_frontier_rows == 0:
        state.stopped = "frontier_empty"
    return state
