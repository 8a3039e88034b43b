"""The crawl engine: BSP fetch rounds over a pages table.

Re-expression of the serial crawl loop (Serial Version/src/crawler.c:
1032-1403) as checkpointed Spark jobs - one job per BFS round - with exact
crawl-order parity (proved against kernel/bfs.py, itself proved against a
literal FIFO simulation). A round is ONE pipeline of named stages
(run_round):

  frontier_r --(scan narrowing: bucket prune + url pushdown)-->
  --(validity c.c:1082)--> --(robots, ours)--> --(politeness budget, ours)-->
  --(fetch = broadcast join vs pages; gate c.c:1115+848)-->
  --(extract text+links, ONE Arrow pass, c.c:134-437/685-746)-->
  --(candidate validity vs global seed domain, c.c:1305)-->
  --(cross-round URL-seen anti-join, c.c:1320)-->
  --(intra-round arbitration: first-occurrence dedup + <=20/page cap,
     c.c:1299-1341)--> frontier_{r+1} --> pooled snapshot writes

CrawlConfig.trace=True (CLI/API default, serial parity) adds the trace
stages: a fetch-gate checkpoint that also serves the stop cutoffs
(c.c:1075), the event trace and the FIFO/priority frontier, both with a
dense seq (common.with_global_seq_counted: no window, no extra exchange) -
about 25 Spark jobs a round whatever its size, every count riding a
snapshot write as an Observation. trace=False (throughput, about 11 jobs)
skips them: failed fetches vanish in an inner fetch join, extraction runs
during the pages.parquet write, arbitration is 'scale', and the frontier
seq is xxhash64(url).

Scale design notes (the 100 TB story):
- html bytes never cross a shuffle: the small frontier side of the fetch
  join is broadcast, and the traced fetch gate joins only a slim
  (url, length(html)) projection;
- the stop cutoff runs as aggregates observed on the fetch-gate checkpoint
  when no stop can possibly bind this round (the common case) and only
  falls back to an ordered window in the crawl's final round;
- frontier/url_seen snapshots are parquet-per-round with a manifest commit
  marker (Iceberg-snapshot semantics without the runtime dep); url_seen is
  stored as per-round DELTAS, read back as a multi-path union - O(new urls)
  write amplification per round;
- the seen anti-join gets Catalyst's runtime bloom filter (might_contain),
  so only ~fpp of definitely-new candidates pay the exact join shuffle;
- frontiers repartition by salted host before the politeness window
  (operators/politeness.py) - hot hosts cannot serialize a task;
- per-round metrics + per-partition lineage land in metrics.json.
"""

from __future__ import annotations

import json
import time
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, Row, SparkSession, Window
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
    # (priority + diversity, insert at 0 / n/4 / n/2; crawler.c:693-731).
    # Ignored when trace=False: that round's frontier seq is xxhash64(url)
    # whatever the priority, and run_crawl warns.
    priority: bool | str = False
    # 'auto' | 'exact' | 'scale': auto = exact greedy below ~5M candidates
    # (event-for-event serial parity), distributed two-window pass above
    # (drops only the revival quirk; see operators/arbitrate.py). Parity
    # suites pin 'exact'; a default user never gets a repartition(1) stage
    # on a big frontier.
    arbitration: str = "auto"
    max_rounds: int = 64                    # safety rail
    # True (default, exact parity): run_round adds the trace stages - the
    # fetch-gate checkpoint with the stop cutoffs, the event trace and the
    # dense frontier seq. False (throughput): the same round without them,
    # arbitrating in 'scale' mode whatever `arbitration` says; requires
    # unbounded max_pages/failure_stop (ValueError otherwise). Frontier
    # ordering keys stay deterministic (xxhash64(url)) but not FIFO-dense.
    trace: bool = True
    # merge url_seen deltas every k completed rounds (None = never);
    # bounds the multi-dir anti-join fan-in on long crawls
    compact_every: int | None = None
    # bucket count of a bucket-partitioned pages table (sources/tables.py
    # write_bucketed_pages); enables partition-pruned fetch scans for small
    # frontiers. None = unbucketed pages.
    pages_buckets: int | None = None
    # frontiers up to this size push their exact url list into the pages
    # scan (_narrow_pages_scan). "auto" resolves ONCE per crawl from the
    # bucket files' sizes (resolve_pushdown_max): one In chunk (512) when
    # buckets hold few row groups - extra branch scans cost more than they
    # prune (long-crawl A/B: 40 s vs 62 s) - and URL_PUSHDOWN_MAX (4096)
    # when bucket files span many row groups (the 100 TB regime). Pass an
    # int (or None = JVM-safe max) to pin the regime.
    url_pushdown_max: int | str | None = "auto"

    def to_json(self) -> dict:
        return {k: getattr(self, k) for k in (
            "max_depth", "max_pages", "failure_stop", "max_links_per_page",
            "default_budget", "politeness", "robots", "priority",
            "arbitration", "max_rounds", "trace",
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
    # a removed knob that manifests written by older versions still carry
    cfg_json.pop("use_bloom", None)
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


def _pushdown_cap(max_urls: int | str | None) -> int:
    """The url-pushdown cap: an unresolved "auto" (config used outside
    run_crawl, which is where the file-size resolution happens) falls back
    to the conservative one-chunk cap; None = no user cap beyond the
    JVM-safe max."""
    if max_urls == "auto":
        max_urls = URL_PUSHDOWN_CHUNK
    return min(max_urls if max_urls is not None else URL_PUSHDOWN_MAX,
               URL_PUSHDOWN_MAX)


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


# frontier sizes up to this push their url list into the pages scan (a
# slim single-column collect: 4096 urls ~ 400 KB driver-side)
URL_PUSHDOWN_MAX = 4096
# ...but never as ONE In list: parquet-mr evaluates Spark's lowered
# In(url, v1..vN) - a LEFT-DEEP binary Or tree - recursively, stack depth
# O(N); one 4096-value list overflowed the ~1 MB task stack and killed the
# round (579 values ran fine). So the sorted url list is CHUNKED into
# <=512-value In filters (>3x headroom - a JVM-safety bound, not a tuning
# knob) whose scans are unioned; each chunk is a contiguous url range with
# a tight min/max. The session's parquet.pushdown.inFilterThreshold sits
# just above the chunk size, so each chunk pushes whole.
URL_PUSHDOWN_CHUNK = 512


def _chunked_url_filter(pages: DataFrame, urls: list[str]) -> DataFrame:
    urls = sorted(urls)  # contiguous chunks -> tight min/max per branch
    parts = [pages.where(F.col("url").isin(urls[i:i + URL_PUSHDOWN_CHUNK]))
             for i in range(0, len(urls), URL_PUSHDOWN_CHUNK)]
    out = parts[0]
    for p in parts[1:]:  # disjoint chunks - union adds no duplicates
        out = out.unionByName(p)
    return out


def _narrow_pages_scan(pages: DataFrame, frontier: DataFrame,
                       config: CrawlConfig,
                       state: CrawlState) -> tuple[DataFrame, bool,
                                                   int | None]:
    """Narrow the pages scan to what a small frontier can fetch, with ONE
    driver collect of just the columns the applicable regimes need (none
    when neither applies: big frontiers touch every bucket). Both regimes
    keep every page whose url is in the pre-gate frontier, a superset of
    any fetch set, so they are semantics-neutral:
    - bucket pruning (a write_bucketed_pages table, frontier <= 4*B urls):
      keep the frontier's pmod(xxhash64(url), B) buckets - a 32-url round
      against a 100 TB corpus costs 32 buckets, not a full scan;
    - url pushdown (frontier <= _pushdown_cap urls): a chunked url
      In-filter that reaches the parquet reader (PushedFilters), where the
      url-sorted bucket files' row-group stats skip all but the row groups
      holding those urls.
    Urls and buckets are deduplicated as Python sets (<= URL_PUSHDOWN_MAX
    rows - cheaper than a distinct() shuffle). Returns (pages,
    scan_bounded, k_files): whether a regime narrowed the scan, and how
    many bucket files it still touches (the kept buckets, B after a url
    filter alone, else None) - _coalesce_small_round's cost signal."""
    n = state.next_frontier_rows
    cap = _pushdown_cap(config.url_pushdown_max)
    B = config.pages_buckets if "bucket" in pages.columns else None
    push = 0 < n <= cap
    prune = bool(B) and 0 < n <= 4 * B
    if not (push or prune):
        return pages, False, None
    bucket = F.pmod(F.xxhash64("url"), F.lit(B)).cast("int").alias("b")
    rows = frontier.select(*(["url"] if push else []),
                           *([bucket] if prune else [])).collect()
    bounded, k_files = False, None
    if prune:
        bks = sorted({r["b"] for r in rows})
        if len(bks) < B:
            pages = pages.where(F.col("bucket").isin(bks))
            bounded, k_files = True, len(bks)
    urls = sorted({r["url"] for r in rows}) if push else []
    if urls and len(urls) <= cap:
        pages = _chunked_url_filter(pages, urls)
        if not bounded:
            bounded, k_files = True, B
    return pages, bounded, k_files


def _coalesce_small_round(df: DataFrame, state: CrawlState,
                          scan_bounded: bool,
                          k_files: int | None = None) -> DataFrame:
    """Cap task fan-out on small rounds: a 32-url round otherwise schedules
    one extraction task per pruned bucket file (each paying a Python-worker
    Arrow round-trip of a near-empty batch) and commits that many parquet
    files. Coalesce (no shuffle - html bytes stay in place) to ~1 task per
    128 frontier urls; big rounds (> 4096) keep full scan parallelism.

    Only when `scan_bounded` (from _narrow_pages_scan): otherwise the round
    joins the FULL corpus scan, and n//128 tasks would serialize a scan a
    100 TB table cannot afford (ADVICE r4 #1). `k_files` floors the task
    count at ~one per two scanned bucket files: 150 urls hash into ~58 of
    64 buckets, and 2 tasks re-reading ~90% of the corpus measured 1.4x a
    full 32-task scan at pad_paras=384. Row content is untouched; only
    task and output-file counts (and lineage_partition ids) change."""
    n = state.next_frontier_rows
    if not scan_bounded or not (0 < n <= 4096):
        return df
    tasks = max(2, n // 128)
    if k_files is not None:
        tasks = max(tasks, (k_files + 1) // 2)
    return df.coalesce(tasks)


# arbitrate()'s output columns: the empty children of a round that
# cannot expand any page
CHILD_SCHEMA = ("parent_seq long, parent_url_c string, parent_depth int, "
                "base_domain string, link_idx int, url string")


def _page_cols(rnd: int, *extra: str) -> list:
    """pages.parquet columns; `extra` sits between text and warc_ts."""
    return ["url", F.lit(rnd).alias("round"), "seq", "depth", "parent_url",
            "host", "text", *extra, "warc_ts", "lang", "lineage_partition"]


def _fetch_gate(ranked: DataFrame, pages: DataFrame,
                rnd: int) -> tuple[DataFrame, DataFrame, Row]:
    """Trace stage: ONE checkpoint of the whole budget output, left-joined
    to a slim (url, length(html)) projection (html never shuffles). Only
    fetch_now rows probe the pages (a deferred row never matches, so a url
    captured twice cannot duplicate it); the attempts and the deferrals
    are filters of the checkpoint, and the stop-cutoff aggregates ride the
    checkpoint job. Returns (attempts with `ok`, deferred, aggregates)."""
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
    return (gate.where(fetch_now).drop("fetch_now"),
            gate.where(~fetch_now).drop("fetch_now", "ok"), obs_gate.get)


def _stop_cutoff(meta: DataFrame, deferred: DataFrame, denied: DataFrame,
                 agg: Row, state: CrawlState, config: CrawlConfig):
    """Trace stage: the maxPages + consecutive-failure stops (c.c:1075).
    Sets state.stopped / state.fail_carry. Returns (attempts, denied,
    deferred, trail_after): the event rows the serial loop still
    processes, and the seq after which this round's failed attempts carry
    into fail_carry (counted on the events write; None = no success)."""
    remaining = config.max_pages - state.pages_crawled
    stop_seq = event_cut = None
    if (agg["n_ok"] >= remaining or state.fail_carry + agg["n"] - agg["n_ok"]
            >= config.failure_stop):
        # a stop may bind (the crawl's final round): exact ordered cutoff.
        # The window is global, but only over this round's slim attempt
        # rows, and runs at most once per crawl.
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
        ).localCheckpoint(eager=True)
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
        if stop_seq is not None:
            # which stop binds at the stop position
            first = (ordered.where(~F.col("attempted"))
                     .orderBy("seq").select("_cum_ok", "_consec").first())
            state.stopped = ("max_pages" if first["_cum_ok"] >= remaining
                             else "failure_stop")
        meta = ordered.where(F.col("attempted")).drop(
            "_cum_ok", "_pos", "_last_ok_pos", "_consec", "attempted")

    trail_after = None
    if stop_seq is None:  # every row attempted: its failures carry over
        if agg["max_ok_seq"] is not None:
            trail_after = agg["max_ok_seq"]
        else:
            state.fail_carry += agg["n"]
    else:
        denied = denied.where(F.col("seq") < stop_seq)
        deferred = deferred.where(F.col("seq") < stop_seq)
    if event_cut is not None:
        denied = denied.where(F.col("seq") <= event_cut)
        deferred = deferred.where(F.col("seq") <= event_cut)
    return meta, denied, deferred, trail_after


def _event_trace(att: DataFrame, denied: DataFrame, deferred: DataFrame,
                 trail_after: int | None, state: CrawlState, rnd: int):
    """Trace stage: the round's events with their dense seq. Returns
    (events.parquet rows, their Observation, event count); the per-action
    counts, the delay sum and the trailing failures after `trail_after`
    ride the events write."""
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
    action = F.col("action")
    obs_ev = Observation(f"r{rnd}_events")
    ev_out = (events.withColumn("round", F.lit(rnd))
              .select("event_seq", *[c for c in EVENT_COLS if c != "seq"],
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
    return ev_out, obs_ev, n_events


def _dense_frontier(children: DataFrame, deferred: DataFrame,
                    state: CrawlState,
                    config: CrawlConfig) -> tuple[DataFrame, int]:
    """Trace stage: the next frontier with its dense seq - deferred first
    (old seq order), then children. Priority mode (north_rule queue):
    classifier desc, host in-degree among this round's children desc,
    discovery order as recency tie-break - mirrors kernel/bfs.py exactly.
    Returns (frontier rows, row count)."""
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
    return next_frontier.select(FRONTIER_SCHEMA.fieldNames()), n_next


def run_round(spark: SparkSession, pages: DataFrame, workdir: str,
              state: CrawlState, config: CrawlConfig) -> dict:
    """Execute one BSP round; writes the round snapshot; mutates state.

    One pipeline for both forms (module docstring): config.trace adds the
    trace stages _fetch_gate, _stop_cutoff, _event_trace and
    _dense_frontier; a throughput round fetches through an inner join,
    extracts during its pages.parquet write, arbitrates in 'scale' mode and
    keys its frontier by xxhash64(url)."""
    trace = config.trace
    if not trace and (config.max_pages < 10**9
                      or config.failure_stop < 10**9):
        raise ValueError("trace=False requires unbounded stop conditions")
    t0 = time.monotonic()
    stage_wall: dict[str, float] = {}
    last = [t0]

    def mark(stage: str) -> None:
        now = time.monotonic()
        stage_wall[stage] = round(now - last[0], 3)
        last[0] = now

    rnd = state.round
    d = _round_dir(workdir, rnd)
    d.mkdir(parents=True, exist_ok=True)
    # explicit schema (frontier files are always FRONTIER_SCHEMA): no
    # footer-inference job at the top of the round
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
        str(_round_dir(workdir, rnd - 1) / "frontier_next.parquet"))
    pages, scan_bounded, k_files = _narrow_pages_scan(pages, frontier,
                                                      config, state)

    # ---- gates: validity (silent), robots, politeness ----
    f = frontier.where(valid_crawl_url_col(F.col("url"), F.col("base_domain")))
    f = apply_robots(f, _robots_df(spark, config))
    ranked = apply_budget(f.where(F.col("robots_ok")).drop("robots_ok"),
                          _budgets_df(spark, config),
                          (config.politeness or {}).get("*"))
    if trace:
        meta, deferred, agg = _fetch_gate(ranked, pages, rnd)
        mark("fetch_gate")
        denied = f.where(~F.col("robots_ok")).drop("robots_ok")
        att, denied, deferred, trail_after = _stop_cutoff(
            meta, deferred, denied, agg, state, config)
        mark("stop_cutoff")
        ev_out, obs_ev, n_events = _event_trace(att, denied, deferred,
                                                trail_after, state, rnd)
        mark("events_seq")
        fetch = att.where(F.col("ok")).drop("ok")
        # auto-mode hint: candidates <= pages_ok x links/page; 256 is a
        # loose links-per-page bound for the switch (both modes are
        # correct; the hint only picks the strategy without a count job)
        arb_mode, arb_hint = config.arbitration, agg["n_ok"] * 256
    else:
        arb_mode, arb_hint = "scale", None
        fetch_now = F.col("fetch_now")
        deferred = ranked.where(~fetch_now).drop("fetch_now", "host_rank")
        fetch = ranked.where(fetch_now).drop("fetch_now", "host_rank")

    # ---- fetch + extraction (one Arrow pass). The join broadcasts the
    # small frontier side, so the corpus scan stays in place and html
    # bytes never enter an exchange; the hint is gated on the
    # manifest-known frontier row count (estimates alone under-broadcast
    # once frontiers pass ~10 MB).
    fetch = fetch.withColumn("_skip_links",
                             F.col("depth") >= F.lit(config.max_depth))
    if 0 < state.next_frontier_rows <= 3_000_000:
        fetch = F.broadcast(fetch)
    enriched = fetch.join(pages.select("url", "html", "warc_ts", "lang"),
                          "url")
    if not trace:  # the fetch gate: failed fetches simply vanish
        enriched = enriched.where((F.length("html") > 100)
                                  & is_html_content_url_col(F.col("url")))
    enriched = _coalesce_small_round(enriched, state, scan_bounded, k_files)
    extracted = (html_text_and_links(enriched, skip_links_col="_skip_links")
                 .drop("html")  # never checkpoint or store raw bytes
                 .withColumn("lineage_partition", F.spark_partition_id()))
    if trace:
        extracted = extracted.localCheckpoint(eager=True)  # cut html lineage
        mark("extraction")
    else:
        # ONE materialization: extraction runs during the pages.parquet
        # write (links + base_domain stored too - useful lineage); the
        # rest of the round re-reads the written file with `text` pruned
        # away, so page bodies are never double-copied through the block
        # manager. The re-read takes the schema just written: no
        # footer-inference job.
        pages_out = extracted.select(_page_cols(rnd, "links", "base_domain"))
        pages_out.write.mode("overwrite").parquet(str(d / "pages.parquet"))
        extracted = spark.read.schema(pages_out.schema).parquet(
            str(d / "pages.parquet"))
        mark("extract_write")

    # ---- candidate links -> children. Final-round short-circuit: without
    # politeness deferrals, round r holds exactly depth-(r+1) pages (BFS
    # invariant), so when that depth reaches max_depth no candidate can
    # exist - skip the explode/anti-join/arbitrate jobs (~1.5 s of pure
    # plan overhead on empty input at any parallelism).
    expands = F.col("depth") < config.max_depth  # == ~_skip_links
    if config.politeness is None and rnd + 1 >= config.max_depth:
        children = spark.createDataFrame([], CHILD_SCHEMA)
    else:
        cands = (
            extracted.where(expands)
            .select(F.col("seq").alias("parent_seq"),
                    F.col("url").alias("parent_url_c"),
                    F.col("depth").alias("parent_depth"),
                    F.col("base_domain"),
                    F.posexplode("links").alias("link_idx", "url"))
            .where(valid_crawl_url_col(F.col("url"), F.col("base_domain")))
        )
        children = arbitrate(
            seen_anti_join(cands, _read_url_seen(spark, workdir, rnd)),
            cap=config.max_links_per_page, mode=arb_mode,
            count_hint=arb_hint).localCheckpoint(eager=True)
    mark("arbitration" if trace else "arbitrate_ckpt")

    # ---- next frontier ----
    if trace:
        next_frontier, n_next = _dense_frontier(children, deferred, state,
                                                config)
        mark("frontier_seq")
    else:
        cols = FRONTIER_SCHEMA.fieldNames()
        child_rows = children.select(
            "url", host_col(F.col("url")).alias("host"),
            (F.col("parent_depth") + 1).alias("depth"),
            F.col("parent_url_c").alias("parent_url"), "base_domain",
            F.xxhash64("url").alias("seq"))
        obs_frontier = Observation(f"r{rnd}_frontier")
        next_frontier = (deferred.select(*cols).unionByName(child_rows)
                         .observe(obs_frontier, F.count(F.lit(1)).alias("n")))

    # ---- persist snapshot from parallel threads: every write reads
    # already-materialized (checkpointed or written) inputs, so they are
    # independent jobs the scheduler can interleave (manifest still last =
    # commit marker). The round's counts ride the writes as Observations -
    # each on a write that always runs over its whole input, never inside
    # a subplan the optimizer may prune.
    def write(df: DataFrame, name: str):
        return lambda: df.write.mode("overwrite").parquet(
            str(d / f"{name}.parquet"))

    jobs = {}
    if trace:
        # candidates = the valid links of expanding pages, i.e. cands' rows
        obs_pages = Observation(f"r{rnd}_pages")
        valid_links = F.filter("links", lambda u: valid_crawl_url_col(
            u, F.col("base_domain")))
        pages_out = extracted.observe(
            obs_pages, F.sum(F.when(expands & F.col("links").isNotNull(),
                                    F.size(valid_links))).alias("candidates")
        ).select(_page_cols(rnd))
        jobs.update(events=write(ev_out, "events"),
                    pages=write(pages_out, "pages"))
    obs_seen = Observation(f"r{rnd}_seen")
    jobs.update(
        frontier=write(next_frontier, "frontier_next"),
        seen=write(children.select("url").observe(
            obs_seen, F.count(F.lit(1)).alias("n")), "url_seen_delta"),
        lineage=lambda: (extracted.groupBy("lineage_partition")
                         .agg(F.count("*").alias("cnt")).collect()))
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = {k: pool.submit(fn) for k, fn in jobs.items()}
        res = {k: fu.result() for k, fu in futs.items()}
    part_lineage = [{"partition": r["lineage_partition"], "pages": r["cnt"]}
                    for r in res["lineage"]]
    n_children = obs_seen.get["n"]
    if trace:
        ev_obs = obs_ev.get
        ev_counts = {a: ev_obs[a] for a in EVENT_ACTIONS if ev_obs[a]}
        if trail_after is not None:
            state.fail_carry = ev_obs["trailing_fail"]
        fetched = ev_counts.get("fetched", 0)
        n_cands = obs_pages.get["candidates"] or 0
        counts = {"events": ev_counts, "fetched": fetched,
                  "candidates": n_cands, "enqueued": n_children,
                  "dedup_dropped": n_cands - n_children,
                  "politeness_delay_ms_total": int(ev_obs["delay"] or 0)}
    else:
        n_next = obs_frontier.get["n"]
        fetched = sum(p["pages"] for p in part_lineage)
        counts = {"fetched": fetched, "enqueued": n_children}
    mark("writes_and_metrics")
    metrics = {"round": rnd, **counts, "lineage_partitions": part_lineage,
               "next_frontier_rows": n_next,
               **({} if trace else {"trace": False}),
               "wall_sec": round(time.monotonic() - t0, 3),
               "stage_wall": stage_wall}
    (d / "metrics.json").write_text(json.dumps(metrics, indent=1))

    # ---- advance state (a throughput round keeps next_seq: its seq is
    # xxhash64(url), not a FIFO position) ----
    state.pages_crawled += fetched
    state.next_frontier_rows = n_next
    if trace:
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
    if not config.trace and config.priority:
        warnings.warn(
            f"CrawlConfig.priority is ignored when trace=False (got "
            f"{config.priority!r}): the throughput round keys its frontier "
            "by xxhash64(url), so this crawl runs as with priority=False",
            stacklevel=2)
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
