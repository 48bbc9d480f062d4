"""The ``link_storm`` crawl workload.

A fixed synthetic web (``sources/synth.py``: 20k pages on 200
Zipf-skewed hosts, 30 out-links a page, no page body) crawled with the
cuckoo seen-set tier and wide-open politeness.  The workload seed picks
the seed-URL list — a seed-salted, host-diverse order over the fixed
world — and nothing else; the engine only receives the generated
frames.  A seed burst of ``N_SEEDS`` pages makes the second epoch ingest
a storm of raw follows, so per-epoch work is dominated by ingest
(``dedup_raw``, the canonicalize UDF, the cuckoo probe, the decision
join) on top of the engine's fixed per-epoch cost.  After the timed
epochs the run times ``CrawlEngine.resume()`` on the committed
warehouse, so checkpoint reads sit beside the per-epoch writes.

Correctness (outside every timed window):

- every epoch: selected = fetched_ok + not_modified + fetch_error +
  robots_denied + fetch_missing;
- every epoch's ingested / selected / robots_denied / fetched_ok, and
  the final frontier's URL set, equal a breadth-first reference crawl
  computed here in plain Python from the world's md5 link law;
- the resumed frontier equals the live one.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import shutil
import time
from contextlib import contextmanager, nullcontext

from perfbench import host
from perfbench.stats import timing_summary

N_PAGES = 20_000
N_HOSTS = 200
SHOW = 30
N_SEEDS = 400
MIN_EPOCHS = 2
SETUP_REPS = 3
SEEN_SHARDS = 64
# bench.py's sizing: ~2 slots per page at 4-slot buckets (load < 0.5)
SEEN_BUCKETS = 1 << max(int(N_PAGES * 2 / (SEEN_SHARDS * 4)) - 1, 255).bit_length()
OUTCOMES = ("fetched_ok", "fetched_not_modified", "fetch_error", "robots_denied", "fetch_missing")
PHASES = ("ingest", "select", "fetch_parse", "rank", "status_fold", "denied", "commit", "reload")


# -- reference model ---------------------------------------------------------
def md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


class World:
    """The synth link law in plain Python (see ``sources/synth.py``)."""

    def __init__(self, n_pages: int = N_PAGES, n_hosts: int = N_HOSTS, show: int = SHOW):
        self.n_pages, self.show = n_pages, show
        self.host = [n_hosts // (md5int(f"h{i}") % n_hosts + 1) for i in range(n_pages)]
        self.url = [f"http://host{h}.test/p/{i}" for i, h in enumerate(self.host)]

    def children(self, i: int) -> list[int]:
        return [md5int(f"{self.url[i]}#{k}") % self.n_pages for k in range(self.show)]

    def denied(self, i: int) -> bool:
        """``synth.gen_robots``: host 4 disallows everything, hosts 2 and
        hid % 20 == 3 disallow the '/p/1' prefix."""
        h = self.host[i]
        return h == 4 or ((h == 2 or h % 20 == 3) and str(i).startswith("1"))


def seed_ids(world: World, seed: int, n: int) -> list[int]:
    """Seed-salted, host-diverse order: every host's first page (by a
    salted hash), then every host's second page, and so on."""
    keyed = sorted(
        (world.host[i], hashlib.md5(f"{seed}:{world.url[i]}".encode()).hexdigest(), i)
        for i in range(world.n_pages)
    )
    rank, prev = [], None
    for h, key, i in keyed:
        r = 0 if h != prev else rank[-1][0] + 1
        rank.append((r, key, i))
        prev = h
    return [i for _, _, i in sorted(rank)[:n]]


def reference(world: World, seeds: list[int], epochs: int):
    """Per-epoch counts and the final frontier of a breadth-first crawl
    under wide-open politeness: each epoch selects exactly the new URLs
    it ingested, fetches the robots-allowed ones and queues all their
    out-links (duplicates included) for the next epoch."""
    level, seen, ingested, counts = sorted(set(seeds)), set(seeds), len(seeds), []
    frontier: set[int] = set()
    for _ in range(epochs):
        frontier |= set(level)
        fetched = [i for i in level if not world.denied(i)]
        counts.append({
            "ingested": ingested, "selected": len(level),
            "robots_denied": len(level) - len(fetched), "fetched_ok": len(fetched),
        })
        kids = [c for i in fetched for c in world.children(i)]
        ingested = len(kids)
        level = sorted(set(kids) - seen)
        seen |= set(level)
    return counts, {world.url[i] for i in frontier}


# -- engine driving ----------------------------------------------------------
def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def engine_kwargs() -> dict:
    return dict(
        fetch_join="shuffle", seen_filter="cuckoo", seen_shards_n=SEEN_SHARDS,
        seen_buckets=SEEN_BUCKETS, seen_bits=SEEN_BUCKETS * 64, loop_limit=10_000_000,
    )


def make_world(spark, cores: int):
    """The fixed synthetic web, cached the way ``bench.py`` caches it:
    only what the fetch join reads, hash-partitioned by url."""
    from crawler_pyspider_spark.sources import synth

    full = synth.gen_pages(spark, n_pages=N_PAGES, n_hosts=N_HOSTS, show=SHOW, body_kb=0)
    pages = full.select("url", "html").repartition(cores, "url").cache()
    robots = synth.gen_robots(spark, N_HOSTS).cache()
    politeness = synth.gen_politeness(spark, N_HOSTS, rate=1e6, burst=1e7).cache()
    for df in (pages, robots, politeness):
        df.count()
    return pages, robots, politeness


def build(spark, world_frames, seed_urls: list[str], warehouse: str):
    """Set-up: engine construction and seeding."""
    from pyspark.sql import functions as F

    from crawler_pyspider_spark.engine import BENCH_HANDLER, CrawlEngine
    from crawler_pyspider_spark.sources import synth

    eng = CrawlEngine(
        spark, *world_frames, warehouse, handler=BENCH_HANDLER, **engine_kwargs()
    )
    seeds = spark.createDataFrame([(u,) for u in seed_urls], "url string").select(
        "url",
        F.lit("bench").alias("project"),
        (synth.md5int(F.col("url")) % 3).cast("int").alias("priority"),
        F.lit(None).cast("timestamp").alias("exetime"),
    )
    eng.seed(seeds)
    return eng


@contextmanager
def wrapped_store(tracer, stats: dict):
    """Time ``SnapshotStore.write_epoch`` / ``read`` for the traced run."""
    from crawler_pyspider_spark.checkpoint import SnapshotStore

    orig_write, orig_read = SnapshotStore.write_epoch, SnapshotStore.read

    def write_epoch(self, *a, **kw):
        before = host.dir_mb(self.warehouse)
        with tracer.span("checkpoint.write_epoch"):
            t = time.monotonic()
            out = orig_write(self, *a, **kw)
            stats["write_s"] += time.monotonic() - t
        stats["write_mb"] += host.dir_mb(self.warehouse) - before
        return out

    def read(self, *a, **kw):
        with tracer.span("checkpoint.read"):
            t = time.monotonic()
            out = orig_read(self, *a, **kw)
            stats["read_s"] += time.monotonic() - t
        return out

    SnapshotStore.write_epoch, SnapshotStore.read = write_epoch, read
    try:
        yield
    finally:
        SnapshotStore.write_epoch, SnapshotStore.read = orig_write, orig_read


def probe(eng, tracer, acc: dict) -> None:
    """Call each layer's public function on the batch the next epoch
    ingests (``eng.pending``) and the engine's current state, forcing
    each result; counts are taken outside the timed spans."""
    from pyspark.sql import functions as F

    from crawler_pyspider_spark.functions.extract import parse_page
    from crawler_pyspider_spark.functions.urls import with_url_identity
    from crawler_pyspider_spark.operators import cuckoo
    from crawler_pyspider_spark.operators import frontier as FR
    from crawler_pyspider_spark.operators.robots import robots_gate

    pend, now = eng.pending, eng.now(eng.epoch + 1)
    raw = pend.count()
    with tracer.span("probe.urls"):
        t = time.monotonic()
        ident = with_url_identity(pend, "url", eng.n_host_buckets)
        noop(ident)
        acc["canon_s"] += time.monotonic() - t
    acc["raw"] += raw
    acc["distinct"] += ident.select("url_canon").distinct().count()

    inc = with_url_identity(FR.dedup_raw(pend), "url", eng.n_host_buckets)
    inc = FR.normalize_incoming(
        inc.drop("url").withColumnRenamed("url_canon", "url"), now
    ).cache()
    keys = FR.dedup_batch(inc).select("taskid").cache()
    n_keys = keys.count()
    with tracer.span("probe.seen"):
        t = time.monotonic()
        combined = cuckoo.probe_combined(
            keys, eng.seen_shards, n_shards=eng.seen_shards_n, buckets=eng.seen_buckets
        ).cache()
        combined.count()
        acc["seen_s"] += time.monotonic() - t
    flagged, _ = cuckoo.split(combined)
    known = eng.frontier.select("taskid")
    positive = flagged.filter(F.col("seen"))
    acc["keys"] += n_keys
    acc["positive"] += positive.count()
    acc["false_positive"] += positive.join(known, "taskid", "left_anti").count()
    acc["truly_new"] += keys.join(known, "taskid", "left_anti").count()
    acc["load"] = (eng.seen_shards.agg(F.sum("n_items")).first()[0] or 0) / float(
        eng.seen_shards_n * eng.seen_buckets * cuckoo.SLOTS
    )

    with tracer.span("probe.merge"):
        t = time.monotonic()
        changes, _ = FR.merge_changes(eng.frontier, inc, now, None)
        changes = changes.cache()
        changes.count()
        acc["merge_s"] += time.monotonic() - t
    ready = eng.frontier.unionByName(changes)
    n_ready = ready.filter(FR.ready_filter(now)).count()
    acc["ready"] += n_ready
    with tracer.span("probe.select"):
        t = time.monotonic()
        selected, _ = FR.select_batch(
            ready, eng.token_state, eng.politeness, now, loop_limit=eng.loop_limit,
            n_salts=eng.n_salts, salt_threshold=eng.salt_threshold, n_projects=1,
            total_ready=n_ready,
        )
        selected = selected.cache()
        n_sel = selected.count()
        acc["select_s"] += time.monotonic() - t
    acc["selected"] += n_sel

    with tracer.span("probe.robots"):
        t = time.monotonic()
        gated = robots_gate(selected, eng.robots).cache()
        gated.count()
        acc["gate_s"] += time.monotonic() - t
    allowed = gated.filter(F.col("robots_allowed")).select("url")
    acc["gated"] += n_sel
    acc["denied"] += n_sel - allowed.count()

    fetched = allowed.join(eng.pages, "url").cache()
    n_pages = fetched.count()
    with tracer.span("probe.extract"):
        t = time.monotonic()
        noop(fetched.select(parse_page(F.col("url"), F.col("html")).alias("p")))
        acc["parse_s"] += time.monotonic() - t
    acc["parsed"] += n_pages
    acc["html_mb"] += (fetched.agg(F.sum(F.length("html"))).first()[0] or 0) / 1e6
    for df in (inc, keys, combined, changes, selected, gated, fetched):
        df.unpersist()


def _ratio(num: float, den: float, scale: float = 1.0) -> float:
    return num / den * scale if den else 0.0


def run(spark, cores: int, seed: int, seconds: float, tracer, work: str) -> dict:
    from crawler_pyspider_spark.engine import CrawlEngine

    world = World()
    seeds = seed_ids(world, seed, N_SEEDS)
    seed_urls = [world.url[i] for i in seeds]

    with tracer.span("world"):
        t = time.monotonic()
        pages, robots, politeness = make_world(spark, cores)
        world_s = time.monotonic() - t
    setups = []
    for rep in range(SETUP_REPS):
        wh = os.path.join(work, f"warehouse{rep}")
        with tracer.span("setup", rep=rep):
            t = time.monotonic()
            eng = build(spark, (pages, robots, politeness), seed_urls, wh)
            setups.append(time.monotonic() - t)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(wh, ignore_errors=True)

    cp = {"write_s": 0.0, "write_mb": 0.0, "read_s": 0.0}
    acc = {k: 0.0 for k in (
        "canon_s", "raw", "distinct", "seen_s", "keys", "positive", "false_positive",
        "truly_new", "merge_s", "ready", "select_s", "selected", "gate_s", "gated",
        "denied", "parse_s", "parsed", "html_mb", "load")}
    metrics, walls, windows = [], [], []
    store_ctx = wrapped_store(tracer, cp) if tracer.enabled else nullcontext()
    with store_ctx:
        t_run = time.monotonic()
        while len(walls) < MIN_EPOCHS or time.monotonic() - t_run < seconds:
            if tracer.enabled:
                with tracer.span("probe", epoch=eng.epoch + 1):
                    probe(eng, tracer, acc)
            with tracer.span("epoch", epoch=eng.epoch + 1) as attrs:
                w0 = time.time() * 1e3
                t = time.monotonic()
                m = eng.run_epoch()
                walls.append(time.monotonic() - t)
                windows.append((w0, time.time() * 1e3))
            metrics.append(m)
            attrs.update({k: m.get(k) for k in ("ingested", "selected", "fetched_ok")})
            if tracer.enabled:
                _phase_spans(tracer, m)
        t_timed = time.monotonic() - t_run

        with tracer.span("resume"):
            t = time.monotonic()
            eng2 = CrawlEngine.resume(
                spark, pages, robots, politeness, eng.store.warehouse, **engine_kwargs()
            )
            eng2.frontier.count()
            resume_s = time.monotonic() - t
    warehouse_mb = host.dir_mb(eng.store.warehouse)
    rss = host.peak_rss_mb(spark)

    # ---- checks (untimed) ----
    ref_counts, ref_frontier = reference(world, seeds, len(metrics))
    failed_ops, notes = set(), []
    for e, (m, ref) in enumerate(zip(metrics, ref_counts)):
        outcome = sum(m.get(k, 0) for k in OUTCOMES)
        if outcome != m["selected"]:
            failed_ops.add(e)
            notes.append(f"epoch {e}: selected {m['selected']} != outcomes {outcome}")
        got = {k: m.get(k, 0) for k in ref}
        if got != ref:
            failed_ops.add(e)
            notes.append(f"epoch {e}: counts {got} != reference {ref}")
    state = ("taskid", "url", "status", "exetime")
    live = {tuple(r) for r in eng.frontier.select(*state).collect()}
    if {r[1] for r in live} != ref_frontier:
        failed_ops.add(len(metrics) - 1)
        notes.append(f"frontier: {len(live)} urls != reference {len(ref_frontier)}")
    resumed = {tuple(r) for r in eng2.frontier.select(*state).collect()}
    if resumed != live:
        failed_ops.add("resume")
        notes.append(f"resume: {len(resumed)} rows != live {len(live)}")

    urls = sum(m["ingested"] + m["selected"] for m in metrics)
    report = {
        "e2e": {"setup_s": statistics.median(setups), "work_s": t_timed},
        "reported": {
            "urls_per_s": {"value": urls / t_timed, "unit": "urls/s"},
            "epoch_s_p50": {"value": statistics.median(walls), "unit": "s"},
            "resume_s": {"value": resume_s, "unit": "s"},
            "warehouse_mb": {"value": warehouse_mb, "unit": "MB"},
            "peak_rss_mb": {"value": rss["total"], "unit": "MB"},
        },
        "detail": {
            "epoch_s": timing_summary(walls),
            "setup_reps_s": setups,
            "rss_mb": rss,
            "world_s": world_s,
            "epochs": [
                {k: v for k, v in m.items() if k.startswith("t_") or k in
                 ("epoch", "ingested", "selected", "frontier_rows", "delta_rows", *OUTCOMES)}
                for m in metrics
            ],
        },
        "counts": [{k: m.get(k, 0) for k in ("ingested", "selected", *OUTCOMES)} for m in metrics],
        "attempted": len(metrics) + 1,
        "failed": len(failed_ops),
        "notes": notes,
        "windows": windows,
    }
    if tracer.enabled:
        n = len(metrics)
        layer = {
            f"engine.{p}_s": sum(m.get(f"t_{p}", 0.0) for m in metrics) / n for p in PHASES
        }
        layer.update({
            "urls.canon_us_per_url": _ratio(acc["canon_s"], acc["raw"], 1e6),
            "urls.distinct_frac": _ratio(acc["distinct"], acc["raw"]),
            "seen.probe_us_per_key": _ratio(acc["seen_s"], acc["keys"], 1e6),
            "seen.positive_frac": _ratio(acc["positive"], acc["keys"]),
            "seen.false_positive_frac": _ratio(acc["false_positive"], acc["truly_new"]),
            "seen.load_factor": acc["load"],
            "frontier.select_s": acc["select_s"] / n,
            "frontier.ready_rows": acc["ready"] / n,
            "frontier.selected_rows": acc["selected"] / n,
            "frontier.merge_s": acc["merge_s"] / n,
            "robots.gate_us_per_row": _ratio(acc["gate_s"], acc["gated"], 1e6),
            "robots.denied_frac": _ratio(acc["denied"], acc["gated"]),
            "extract.parse_us_per_page": _ratio(acc["parse_s"], acc["parsed"], 1e6),
            "extract.mb_in": acc["html_mb"] / n,
            "checkpoint.write_s": cp["write_s"] / n,
            "checkpoint.write_mb": cp["write_mb"] / n,
            "checkpoint.read_s": cp["read_s"],
        })
        report["layer"] = layer
    return report


def _phase_spans(tracer, m: dict) -> None:
    """Phase spans under the epoch just run.  ``run_epoch`` reports each
    phase as a lazily billed duration, not an interval, so the spans are
    laid end to end, in the order the phases run, ending where the epoch
    ends (commit and reload are its last steps); their durations are
    measured, their placement is not."""
    ep = tracer.last("epoch")
    t = ep["end"]
    for p in reversed(PHASES):
        d = m.get(f"t_{p}")
        if d:
            tracer.add(f"engine.{p}", t - d, t, ep["id"], lazy_billed=True)
            t -= d
