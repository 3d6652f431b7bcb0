"""Workload definitions and the phases one benchmark iteration runs.

Every workload's iteration ends with the crawl's complete result: the
crawled companies assembled (html-by-company shuffle + ``applyInPandas``)
and written to the four sink tables, as ``run_crawl.py --assemble`` does.

* ``skewed_trickle`` — a fresh crawl of small pages where one registry
  host owns most companies, so per-wave fixed cost and skew dominate.
* ``recrawl_sink`` — set-up crawls the web once; each iteration copies
  that state, marks every fetched row due, and re-runs the wave loop.

Run time is set mostly by the number of waves (each has seconds of fixed
cost), so the webs are small and each ``per_host_k`` is chosen to give the
same wave count on every seed (5 and 2 waves): a smaller budget adds a
tiny tail wave on some seeds only, which shows up as spread.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from new_ent_crawler_spark.operators import assemble as ASM
from new_ent_crawler_spark.operators import politeness as PL
from new_ent_crawler_spark.operators import recrawl as RC
from new_ent_crawler_spark.plans.wave import BUDGETS_PA, WaveEngine
from new_ent_crawler_spark.sources.snapshot import SnapshotTable

# recrawl clock: every warc_ts of the synthetic web (2018) is more than a
# month before it, so a "monthly" changefreq makes every fetched row due
RECRAWL_NOW = "2030-01-01 00:00:00"

# a fresh crawl's warm-up iteration stops after this many waves, compacting
# on the last, so it runs the big waves' path, then assembles and writes the
# sinks; a shorter one left the first timed iteration ~20% slower than the
# next and its figures unsteady
WARMUP_WAVES = 3

# assemble + sink-write passes per iteration: the timed one and, after the
# timed section, overwrites of the same result; one ~2 s pass alone is too
# short to give a steady rate
SINK_PASSES = 3

SINKS = (("business_info", ASM.business_info),
         ("enterprise_info", ASM.enterprise_info),
         ("report_info", ASM.report_info),
         ("main_url_record", ASM.main_url_record))


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # synth.webgen.generate parameters (the seed comes from --seed)
    n_hosts: int
    companies_per_host: int
    filler_kb: int
    skew_host_factor: int
    # WaveEngine parameters
    per_host_k: int
    salt_buckets: int
    compact_every: int
    expected_total_urls: int
    # recrawl_sink: per_host_k of the set-up crawl; the requeue then
    # resets every host's budget to ``per_host_k`` for the recrawl cycle
    base_per_host_k: int | None = None
    max_waves: int = 400

    @property
    def recrawl(self) -> bool:
        return self.base_per_host_k is not None

    def web_params(self, seed: int) -> dict:
        return {"n_hosts": self.n_hosts,
                "companies_per_host": self.companies_per_host,
                "filler_kb": self.filler_kb,
                "skew_host_factor": self.skew_host_factor, "seed": seed}

    def engine_params(self, **override) -> dict:
        return {"per_host_k": self.per_host_k,
                "salt_buckets": self.salt_buckets,
                "compact_every": self.compact_every,
                "expected_total_urls": self.expected_total_urls,
                "max_waves": self.max_waves, **override}

    def disk_need_bytes(self) -> int:
        """Generous bound on the work dir's peak size: the web, its parquet
        copies in engine state (extracted text, sinks), shuffle files."""
        pages = self.n_hosts * self.companies_per_host * 40 * (
            1 + (self.skew_host_factor - 1) / self.n_hosts)
        return int(pages * (self.filler_kb + 4) * 1024 * 6) + 2**30


WORKLOADS = {w.name: w for w in (
    Workload(
        name="skewed_trickle",
        why=("4 hosts x 8 companies, host 0 x25, no pad; per_host_k 4096,"
             " salt 16, expected 20k URLs: ~7k small pages in 5 waves, ~90% on"
             " host 0; per-wave fixed cost, skew and compaction dominate"),
        n_hosts=4, companies_per_host=8, filler_kb=0, skew_host_factor=25,
        per_host_k=4096, salt_buckets=16, compact_every=4,
        expected_total_urls=20_000),
    Workload(
        name="recrawl_sink",
        why=("8 hosts x 16 companies, 8 KB pad, crawled in set-up; requeue"
             " all ~4.4k URLs, recrawl 2 waves at per_host_k 448, salt 8,"
             " expected 20k: dedup all-hit, deltas all updates, sink"
             " overwrite"),
        n_hosts=8, companies_per_host=16, filler_kb=8, skew_host_factor=1,
        per_host_k=448, salt_buckets=8, compact_every=8,
        expected_total_urls=20_000, base_per_host_k=100_000),
)}


class WaveClock:
    """Wall time of every WaveEngine.run_wave call, keyed by wave id —
    the benchmark's own timer around the engine's public per-wave call."""

    def __init__(self):
        self.seconds: dict[int, float] = {}
        self._orig = None

    def __enter__(self):
        self._orig = orig = WaveEngine.run_wave
        seconds = self.seconds

        def run_wave(eng, wave, pages):
            t0 = time.perf_counter()
            try:
                return orig(eng, wave, pages)
            finally:
                seconds[wave] = time.perf_counter() - t0

        WaveEngine.run_wave = run_wave
        return self

    def __exit__(self, *exc):
        WaveEngine.run_wave = self._orig
        return False


def _engine(spark, wl: Workload, web_dir: str, work_dir: str,
            **override) -> WaveEngine:
    return WaveEngine(spark, web_dir, work_dir,
                      **wl.engine_params(**override))


def write_sinks(spark, eng: WaveEngine, work_dir: str, span) -> dict:
    """Assemble companies and overwrite the four sink tables."""
    t0 = time.perf_counter()
    with span("assemble"):
        assembled = ASM.assemble_companies(eng.frontier(), eng.pages())
        assembled = assembled.persist()
        companies = assembled.count()
    t1 = time.perf_counter()
    with span("assemble.sink_write"):
        for name, build in SINKS:
            SnapshotTable(os.path.join(work_dir, name)).overwrite(
                build(assembled))
    t2 = time.perf_counter()
    assembled.unpersist()
    return {"companies": companies, "assemble_s": t1 - t0,
            "sink_write_s": t2 - t1}


def sink_rate(spark, eng: WaveEngine, work_dir: str, first: dict,
              passes: int) -> float:
    """Median companies/s over the iteration's timed sink pass ``first``
    and ``passes - 1`` more untraced overwrites of its result."""
    def no_span(name):
        return contextlib.nullcontext()

    runs = [first] + [write_sinks(spark, eng, work_dir, no_span)
                      for _ in range(passes - 1)]
    return statistics.median(
        p["companies"] / (p["assemble_s"] + p["sink_write_s"])
        for p in runs)


def requeue_all(spark, eng: WaveEngine, span) -> int:
    """Mark every fetched frontier row due (revisit_schedule), reset it to
    pending (requeue_due) and give every host a fresh ``per_host_k``
    budget for the new cycle; returns the wave the recrawl resumes after."""
    with span("recrawl.requeue"):
        w0 = eng.last_wave()
        robots = pq.read_table(
            os.path.join(eng.data_dir, "robots.parquet")).to_pandas()
        eng.budgets_t.overwrite_rows(
            PL.init_budgets_pd(robots, eng.per_host_k), BUDGETS_PA,
            meta={"wave": w0})
        lastmod = eng.pages().select(
            "url", F.col("warc_ts").cast("timestamp_ntz").alias("lastmod_ts"))
        schedule = RC.revisit_schedule(
            eng.frontier().select("url").join(lastmod, "url", "left")
            .withColumn("changefreq", F.lit("monthly")),
            now=RECRAWL_NOW)
        requeued = RC.requeue_due(eng.frontier(), schedule, wave=w0 + 1)
        eng.frontier_t.overwrite(requeued, meta={"wave": w0})
    return w0


def run_iteration(spark, wl: Workload, web_dir: str, work_dir: str,
                  base_state: str | None, span, **override) -> dict:
    """One iteration in a fresh ``work_dir`` (``override``: engine
    parameters, for the warm-up); returns its timings and the engine so
    the caller can check its outputs."""
    if base_state is not None:
        # hard links: the engine never rewrites a file in place (new data
        # dirs, manifests replaced by rename), so the copy costs no I/O
        shutil.copytree(base_state, work_dir, copy_function=os.link)
    spark.catalog.clearCache()
    eng = _engine(spark, wl, web_dir, work_dir, **override)
    with WaveClock() as clock:
        t0 = time.perf_counter()
        w0 = requeue_all(spark, eng, span) if base_state is not None else 0
        t1 = time.perf_counter()
        with span("crawl"):
            stats = eng.run(resume=base_state is not None)
        t2 = time.perf_counter()
        sink = write_sinks(spark, eng, work_dir, span)
        t3 = time.perf_counter()
    return {"engine": eng, "stats": stats, "w0": w0,
            "wave_s": [clock.seconds[s["wave"]] for s in stats],
            "requeue_s": t1 - t0, "crawl_s": t2 - t1, "run_s": t3 - t0,
            "urls": sum(s["claimed"] for s in stats), **sink}


def base_crawl(spark, wl: Workload, web_dir: str, work_dir: str, span):
    """recrawl_sink set-up and warm-up: the first crawl, whose state every
    iteration copies (sinks included, so the timed write is a real
    overwrite)."""
    eng = _engine(spark, wl, web_dir, work_dir,
                  per_host_k=wl.base_per_host_k)
    stats = eng.run(resume=False)
    write_sinks(spark, eng, work_dir, span)
    return eng, stats
