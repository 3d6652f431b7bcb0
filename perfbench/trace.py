"""Spans around calls into the engine's public functions, recorded from
the benchmark's own code (no file of the engine changes).

``Tracer.install()`` wraps each layer's public entry points; every call
becomes a span (name, start, end, parent) kept in memory.  A layer's self
time is its spans' duration minus the time their child spans cover.  Most
operators only build a DataFrame plan, so their spans measure driver-side
planning; the Spark jobs a wave triggers are timed by the engine's own
per-wave ``timings``, which ``layer_metrics`` reads alongside the spans,
the ``lineage`` table and Spark's status tracker.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager

from new_ent_crawler_spark.operators import dedup as DD
from new_ent_crawler_spark.operators import frontier as FR
from new_ent_crawler_spark.operators import parse as PS
from new_ent_crawler_spark.operators import politeness as PL
from new_ent_crawler_spark.operators import recrawl as RC
from new_ent_crawler_spark.operators import assemble as ASM
from new_ent_crawler_spark.plans.wave import WaveEngine
from new_ent_crawler_spark.sources.snapshot import DeltaTable, SnapshotTable

# span name -> the public callables it wraps
TARGETS = {
    "frontier.dequeue": [(FR, "dequeue")],
    "parse.plan": [(PS, "parse_pages"), (PS, "explode_links"),
                   (PS, "dedup_candidates")],
    "dedup.bloom_build": [(DD, "build_bloom"), (DD, "build_cuckoo")],
    "dedup.plan": [(DD, "filter_new_urls")],
    "politeness": [(PL, "grants_pd"), (PL, "spend_and_refill_pd"),
                   (PL, "robots_allowed"), (PL, "init_budgets_pd")],
    "snapshot.commit": [(DeltaTable, "append_delta"),
                        (DeltaTable, "overwrite_rows"),
                        (SnapshotTable, "append_rows"),
                        (SnapshotTable, "overwrite_rows")],
    # the extracted-text append is the write job that materializes a
    # wave's fetch + parse; kept apart from the commit span for that reason
    "snapshot.append": [(SnapshotTable, "append")],
    "snapshot.compact": [(DeltaTable, "compact")],
    "recrawl.plan": [(RC, "revisit_schedule"), (RC, "requeue_due")],
    "assemble.plan": [(ASM, "assemble_companies")],
}

# every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    "wave.waves": "count", "wave.spark_jobs_per_wave": "count",
    "wave.driver_plan_s": "s", "wave.self_s": "s",
    "frontier.dequeue_s": "s", "frontier.claimed": "count",
    "frontier.pending_peak": "count",
    "parse.s": "s", "parse.urls": "count", "parse.html_mb": "MB",
    "parse.urls_per_busy_s": "url/s",
    "dedup.s": "s", "dedup.bloom_build_s": "s", "dedup.candidates": "count",
    "dedup.new": "count", "dedup.hit_ratio": "ratio",
    "politeness.s": "s", "politeness.grant_use_ratio": "ratio",
    "snapshot.commit_s": "s", "snapshot.compact_s": "s",
    "snapshot.compactions": "count", "snapshot.mb_written": "MB",
    "recrawl.requeue_s": "s", "recrawl.requeued": "count",
    "assemble.s": "s", "assemble.companies": "count",
    "assemble.html_mb_shuffled": "MB", "assemble.sink_write_s": "s",
    "assemble.sink_rows": "count",
    "synth.gen_s": "s", "oracle.sim_s": "s", "trace.overhead_pct": "%",
    "host.iowait_pct": "%", "host.steal_pct": "%",
}

PLAN_TIMINGS = ("rs_plan", "dq_plan", "px_plan", "cd_plan", "fm_plan")
DEQUEUE_TIMINGS = ("dq_plan", "dequeue")
PARSE_TIMINGS = ("px_plan", "px_write", "px_footer", "parse_extract")
DEDUP_TIMINGS = ("read_state", "cd_plan", "candidates_dedup", "bloom_merge")


class Tracer:
    def __init__(self):
        self.spans: list[list] = []   # [name, parent index, start, end]
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self.granted = 0
        self.wave_jobs = 0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append([name, self._stack[-1] if self._stack else None,
                           time.perf_counter(), None])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][3] = time.perf_counter()

    def _wrap(self, owner, attr: str, name: str, after=None):
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> "Tracer":
        for name, targets in TARGETS.items():
            for owner, attr in targets:
                after = self._count_grants if attr == "grants_pd" else None
                self._wrap(owner, attr, name, after)
        self._wrap_waves()
        return self

    def _count_grants(self, grants_pdf):
        self.granted += int(grants_pdf["grant"].clip(lower=0).sum())

    def _wrap_waves(self):
        """run_wave gets a span and its own Spark job group, so the status
        tracker can count the jobs each wave launched."""
        orig = WaveEngine.__dict__["run_wave"]
        tracer = self

        @functools.wraps(orig)
        def run_wave(eng, wave, pages):
            sc = eng.spark.sparkContext
            group = f"perfbench-wave-{id(tracer)}-{wave}"
            sc.setJobGroup(group, group)
            try:
                with tracer.span("wave"):
                    return orig(eng, wave, pages)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                tracer.wave_jobs += len(
                    sc.statusTracker().getJobIdsForGroup(group))

        WaveEngine.run_wave = run_wave
        self._undo.append((WaveEngine, "run_wave", orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- queries -------------------------------------------------------------

    def total(self, name: str) -> float:
        """Wall time under spans called ``name``, counted once when such
        spans nest (DeltaTable.overwrite_rows reaching a wrapped base)."""
        return sum(e - s for n, p, s, e in self.spans
                   if n == name and not self._under(p, name))

    def count(self, name: str) -> int:
        return sum(1 for n, p, *_ in self.spans
                   if n == name and not self._under(p, name))

    def _under(self, parent, name: str) -> bool:
        while parent is not None:
            if self.spans[parent][0] == name:
                return True
            parent = self.spans[parent][1]
        return False

    def self_time(self, name: str) -> float:
        own = {i for i, sp in enumerate(self.spans) if sp[0] == name}
        child = sum(e - s for n, p, s, e in self.spans if p in own)
        return sum(self.spans[i][3] - self.spans[i][2] for i in own) - child


def _timing(stats: list, keys) -> float:
    return sum(s["timings"].get(k, 0.0) for s in stats for k in keys)


def layer_metrics(spark, it: dict, tracer: Tracer, expected,
                  state_bytes: int) -> dict:
    """Per-layer numbers of one traced iteration."""
    stats = it["stats"]
    eng = it["engine"]
    waves = len(stats)
    claimed = sum(s["claimed"] for s in stats)
    lin = (eng.lineage_t.read(spark)
           .filter(f"stage = 'dedup' AND wave_id > {it['w0']}")
           .groupBy().sum("urls_in", "urls_out", "dedup_hits").collect()[0])
    candidates = lin[0] or 0
    parse_s = _timing(stats, PARSE_TIMINGS)
    return {
        "wave.waves": waves,
        "wave.spark_jobs_per_wave": tracer.wave_jobs / max(waves, 1),
        "wave.driver_plan_s": _timing(stats, PLAN_TIMINGS),
        "wave.self_s": tracer.self_time("wave"),
        "frontier.dequeue_s": _timing(stats, DEQUEUE_TIMINGS),
        "frontier.claimed": claimed,
        "frontier.pending_peak": max(s["pending_before"] for s in stats),
        "parse.s": parse_s,
        "parse.urls": claimed,
        "parse.html_mb": expected.html_bytes / 2**20,
        "parse.urls_per_busy_s": claimed / parse_s if parse_s else 0.0,
        "dedup.s": _timing(stats, DEDUP_TIMINGS),
        "dedup.bloom_build_s": tracer.total("dedup.bloom_build"),
        "dedup.candidates": candidates,
        "dedup.new": lin[1] or 0,
        "dedup.hit_ratio": (lin[2] or 0) / candidates if candidates else 0.0,
        "politeness.s": tracer.total("politeness"),
        "politeness.grant_use_ratio": (claimed / tracer.granted
                                       if tracer.granted else 0.0),
        "snapshot.commit_s": tracer.total("snapshot.commit"),
        "snapshot.compact_s": tracer.total("snapshot.compact"),
        "snapshot.compactions": tracer.count("snapshot.compact"),
        "snapshot.mb_written": state_bytes / 2**20,
        "recrawl.requeue_s": tracer.total("recrawl.requeue"),
        "recrawl.requeued": (stats[0]["pending_before"]
                             if tracer.count("recrawl.requeue") else 0),
        "assemble.s": tracer.total("assemble"),
        "assemble.companies": it["companies"],
        "assemble.html_mb_shuffled": expected.assemble_bytes / 2**20,
        "assemble.sink_write_s": tracer.total("assemble.sink_write"),
        "assemble.sink_rows": it["sink_rows"],
    }


def median_metrics(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
