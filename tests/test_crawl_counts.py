"""Round job floors and the counts that ride the round's writes.

A traced round (run_round, the CLI default) takes its counts from
Observations on its checkpoints and snapshot writes instead of separate
count jobs, and numbers its events and next frontier with a windowless
dense seq. These tests pin the Spark job count and stage names of traced
and throughput (trace=False) rounds, check that dense seq, recompute
every metrics.json / manifest count from the parquet the round wrote, and
cover resuming workdirs written by older versions.
"""

import json
import shutil
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from high_performance_parallel_search_engine_spark.kernel.html import extract_links
from high_performance_parallel_search_engine_spark.kernel.urls import is_valid_crawl_url
from high_performance_parallel_search_engine_spark.operators import crawl as crawl_mod
from high_performance_parallel_search_engine_spark.operators.common import (
    with_global_seq_counted,
)
from high_performance_parallel_search_engine_spark.operators.crawl import (
    CrawlConfig,
    load_state,
    run_crawl,
)
from high_performance_parallel_search_engine_spark.sources.synth import (
    build_corpus_df,
    seed_urls,
)
from high_performance_parallel_search_engine_spark.sources.tables import (
    read_bucketed_pages,
    write_bucketed_pages,
)

CORPUS = dict(n_hosts=3, pages_per_host=40, n_medium=4, n_tiny_per_host=2,
              seed=7, with_oracle_text=False)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """The synth corpus as a parquet pages table (the CLI's input form),
    plus url -> html for recomputing links."""
    df = build_corpus_df(spark, **CORPUS).select("url", "warc_ts", "html",
                                                 "lang")
    path = str(tmp_path_factory.mktemp("corpus") / "pages.parquet")
    df.write.parquet(path)
    html = {r["url"]: bytes(r["html"]) for r in df.collect()}
    return spark.read.parquet(path), html


@pytest.fixture(scope="module")
def bucketed_corpus(spark, tmp_path_factory):
    """The same corpus as a bucket-partitioned pages table."""
    df = build_corpus_df(spark, **CORPUS).select("url", "warc_ts", "html",
                                                 "lang")
    path = str(tmp_path_factory.mktemp("bucketed") / "pages")
    write_bucketed_pages(df, path, n_buckets=4)
    return read_bucketed_pages(spark, path)


def _max_job_id(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def _rounds(workdir: Path) -> list[Path]:
    return sorted(d for d in workdir.glob("round=*")
                  if not d.name.startswith("round=-"))


def _rows(path: Path, columns: list[str]) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


# ---------------------------------------------------------------------------
# dense seq
# ---------------------------------------------------------------------------

def test_global_seq_dense_across_range_partitions(spark):
    # keys scrambled on input; (k1, k2) unique with repeated k1
    keys = [(i % 13, (i * 7919) % 1000) for i in range(300)]
    df = spark.createDataFrame(keys[::-1], "k1 long, k2 long")
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")  # keep every range partition
    try:
        out, n = with_global_seq_counted(df, ["k1", "k2"], "seq", offset=17)
        assert out.rdd.getNumPartitions() >= 3
        rows = out.collect()
    finally:
        spark.conf.set(conf, prev)
    assert n == len(keys) == len(rows)
    by_seq = sorted(rows, key=lambda r: r["seq"])
    assert [r["seq"] for r in by_seq] == list(range(17, 17 + n))
    assert [(r["k1"], r["k2"]) for r in by_seq] == sorted(keys)
    assert out.columns == ["k1", "k2", "seq"]


def test_global_seq_empty_input(spark):
    df = spark.createDataFrame([], "k long")
    out, n = with_global_seq_counted(df, ["k"], "seq", offset=5)
    assert n == 0
    assert out.collect() == []
    assert out.columns == ["k", "seq"]


# ---------------------------------------------------------------------------
# job floor
# ---------------------------------------------------------------------------

TRACED_STAGES = ["fetch_gate", "stop_cutoff", "events_seq", "extraction",
                 "arbitration", "frontier_seq", "writes_and_metrics"]
# bench.py reads the throughput round's "extract_write" wall
THROUGHPUT_STAGES = ["extract_write", "arbitrate_ckpt", "writes_and_metrics"]


def _counted_crawl(spark, monkeypatch, pages, workdir, cfg):
    """Run a crawl; returns (state, Spark jobs of each round). Jobs are
    counted by job-id watermark on the status store (job groups do not
    reach the round's write pool threads)."""
    jobs: list[int] = []
    inner = crawl_mod.run_round

    def counted(*args, **kw):
        j0 = _max_job_id(spark)
        out = inner(*args, **kw)
        jobs.append(_max_job_id(spark) - j0)
        return out

    monkeypatch.setattr(crawl_mod, "run_round", counted)
    return run_crawl(spark, pages, seed_urls(3), str(workdir), cfg), jobs


def _stage_keys(state) -> list[list[str]]:
    return [list(m["stage_wall"]) for m in state.metrics]


def test_traced_round_job_count(spark, corpus, tmp_path, monkeypatch):
    pages, _ = corpus
    cfg = CrawlConfig(max_depth=8, max_pages=60, politeness={"*": 6},
                      arbitration="exact")
    state, jobs = _counted_crawl(spark, monkeypatch, pages, tmp_path / "c",
                                 cfg)
    assert state.stopped == "max_pages"
    assert _stage_keys(state) == [TRACED_STAGES] * len(jobs)
    assert len(jobs) >= 3, jobs
    *warm, stop = jobs
    assert max(warm) <= 28, jobs
    assert stop <= 30, jobs


@pytest.mark.parametrize("politeness, want", [
    # the last round short-circuits: its pages are all at max_depth
    (None, [11, 11, 7]),
    ({"*": 20}, [16, 16, 16, 16]),
])
def test_throughput_round_job_count(spark, bucketed_corpus, tmp_path,
                                    monkeypatch, politeness, want):
    """The trace=False round (the bulk crawl form) on a bucketed table:
    scan narrowing, inner broadcast fetch join, extraction during the
    pages write, scale arbitration and the pooled writes."""
    pages, nb = bucketed_corpus
    unbounded = 1 << 40
    cfg = CrawlConfig(max_depth=3, max_pages=unbounded,
                      failure_stop=unbounded, politeness=politeness,
                      arbitration="scale", trace=False, pages_buckets=nb)
    state, jobs = _counted_crawl(spark, monkeypatch, pages, tmp_path / "c",
                                 cfg)
    assert state.stopped == "frontier_empty"
    assert jobs == want
    assert _stage_keys(state) == [THROUGHPUT_STAGES] * len(jobs)


# ---------------------------------------------------------------------------
# counts recomputed from the written snapshot
# ---------------------------------------------------------------------------

def _check_round_counts(workdir: Path, html: dict, max_depth: int) -> None:
    carry = 0
    prev_carry = 0
    rounds = _rounds(workdir)
    prev_frontier = workdir / "round=-0001" / "frontier_next.parquet"
    for i, rd in enumerate(rounds):
        m = json.loads((rd / "metrics.json").read_text())
        man = json.loads((rd / "manifest.json").read_text())
        events = sorted(_rows(rd / "events.parquet",
                              ["seq", "frontier_seq", "action", "delay_ms"]),
                        key=lambda e: e["seq"])
        assert m["events"] == dict(Counter(e["action"] for e in events))
        assert m["fetched"] == m["events"].get("fetched", 0)
        assert m["politeness_delay_ms_total"] == sum(
            e["delay_ms"] for e in events)
        # candidates: valid links of the fetched pages below max_depth,
        # each judged against its frontier row's seed domain
        domain = {r["url"]: r["base_domain"] for r in
                  _rows(prev_frontier, ["url", "base_domain"])}
        cands = sum(
            sum(is_valid_crawl_url(u, domain[p["url"]])
                for u in extract_links(html[p["url"]], p["url"]))
            for p in _rows(rd / "pages.parquet", ["url", "depth"])
            if p["depth"] < max_depth)
        assert m["candidates"] == cands, rd.name
        seen = _rows(rd / "url_seen_delta.parquet", ["url"])
        assert m["enqueued"] == len(seen)
        assert m["dedup_dropped"] == cands - len(seen)
        nxt = rd / "frontier_next.parquet"
        assert m["next_frontier_rows"] == len(_rows(nxt, ["url"]))
        # consecutive failed attempts, in crawl order, carried over rounds
        for e in events:
            if e["action"] == "fetched":
                carry = 0
            elif e["action"] == "fetch_failed":
                carry += 1
        if i < len(rounds) - 1 or not man["stopped"]:
            assert man["fail_carry"] == carry, rd.name
        else:
            # a stop that cuts the round short keeps the carry it had
            assert man["fail_carry"] in (carry, prev_carry), rd.name
        prev_carry = man["fail_carry"]
        prev_frontier = nxt


def test_round_counts_match_parquet_depth_capped(spark, corpus, tmp_path):
    pages, html = corpus
    cfg = CrawlConfig(max_depth=2, max_pages=10**6, politeness={"*": 5},
                      arbitration="exact")
    wd = tmp_path / "c"
    state = run_crawl(spark, pages, seed_urls(3), str(wd), cfg)
    assert state.stopped == "frontier_empty"
    ms = [json.loads((rd / "metrics.json").read_text())
          for rd in _rounds(wd)]
    # the last rounds fetch only max-depth pages: nothing to expand
    assert ms[-1]["candidates"] == 0 and ms[-1]["fetched"] > 0
    assert any(m["events"].get("fetch_failed") for m in ms)
    assert any(m["events"].get("deferred") for m in ms)
    _check_round_counts(wd, html, cfg.max_depth)


def test_round_counts_match_parquet_max_pages_stop(spark, corpus, tmp_path):
    pages, html = corpus
    cfg = CrawlConfig(max_depth=8, max_pages=45, politeness={"*": 8},
                      arbitration="exact")
    wd = tmp_path / "c"
    state = run_crawl(spark, pages, seed_urls(3), str(wd), cfg)
    assert state.stopped == "max_pages"
    assert state.pages_crawled == 45
    assert len(_rounds(wd)) >= 3
    _check_round_counts(wd, html, cfg.max_depth)


# ---------------------------------------------------------------------------
# resume guard
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("how", ["resume", "resume_from"])
def test_resume_rejects_legacy_url_seen_layout(spark, corpus, tmp_path, how):
    pages, _ = corpus
    wd = tmp_path / "c"
    cfg = CrawlConfig(max_depth=3, max_pages=10**6, max_rounds=1)
    state = run_crawl(spark, pages, seed_urls(3), str(wd), cfg)
    assert not state.stopped
    # an older layout: the seen set stored under another column name
    init = wd / "round=-0001" / "url_seen_delta.parquet"
    legacy = spark.read.parquet(str(init)).withColumnRenamed("url", "u")
    legacy.write.mode("overwrite").parquet(str(tmp_path / "legacy"))
    shutil.rmtree(init)
    (tmp_path / "legacy").rename(init)
    kw = {"resume": True} if how == "resume" else {"resume_from": 0}
    with pytest.raises(ValueError, match="exactly one `url` string column"):
        run_crawl(spark, pages, seed_urls(3), str(wd),
                  CrawlConfig(max_depth=3, max_pages=10**6), **kw)
    # nothing was rewound or overwritten
    assert load_state(str(wd))[2] == 0


def test_resume_accepts_manifest_with_removed_use_bloom(spark, corpus,
                                                        tmp_path):
    """Manifests written before the `use_bloom` knob was removed carry it
    in their config; resuming them ignores the key."""
    pages, _ = corpus
    wd = tmp_path / "c"
    cfg = CrawlConfig(max_depth=3, max_pages=10**6, max_rounds=1)
    run_crawl(spark, pages, seed_urls(3), str(wd), cfg)
    for mf in wd.glob("round=*/manifest.json"):
        m = json.loads(mf.read_text())
        assert "use_bloom" not in m["config"]
        m["config"].update(use_bloom=True, max_rounds=8)
        mf.write_text(json.dumps(m))
    state = run_crawl(spark, pages, seed_urls(3), str(wd), resume=True)
    assert state.stopped == "frontier_empty"
    rounds = _rounds(wd)
    assert len(rounds) == 3
    man = json.loads((rounds[-1] / "manifest.json").read_text())
    assert "use_bloom" not in man["config"]
