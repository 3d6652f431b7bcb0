#!/usr/bin/env python3
"""Crawl-engine benchmark: a single-process, closed-loop load generator
with one client that runs one crawl at a time on ``local[nproc]``.

    python3 perfbench/run.py --workload skewed_trickle --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

A run generates its web with ``synth.webgen.generate(seed=--seed)``,
computes the oracle for it, starts Spark and makes one untimed warm-up
(SparkSession start + warm-up = ``setup_s``; see ``Run.setup``).  It then
runs iterations back to back while one more is expected to end within
``--seconds`` (at least one); each iteration gets a fresh work dir and a
cleared Spark cache, and is checked against the oracle afterwards.
Timings are medians over the run's iterations; wave latencies are pooled
over them.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs untraced
and traced iterations in untraced-traced-untraced blocks and prints the
per-layer metrics (``trace.overhead_pct`` compares the two kinds).  The
last stdout line is one JSON object: ``correct``, ``attempted`` (URLs
crawled over all checked iterations), ``failed`` (bad URLs and sink rows;
``bad_url_ratio`` is failed / attempted) and ``metrics``.  The exit code
is 1 when any output differs from the oracle.  ``--workload all`` runs
every workload in its own process and prints a table of every end-to-end
metric with its unit.

``bench.py`` (query suite and the N-vs-4N scaling legs) is a separate,
unchanged measurement.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

END_TO_END = {"urls_per_s": "url/s", "run_s": "s", "wave_p50_s": "s",
              "wave_p75_s": "s", "sink_companies_per_s": "company/s",
              "jvm_peak_rss_mb": "MB", "setup_s": "s"}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _no_span(name):
    return contextlib.nullcontext()


class Run:
    """One benchmark process: set-up, warm-up, measured iterations."""

    def __init__(self, wl, seed: int):
        from perfbench import host
        from perfbench.oracle import Oracle
        from new_ent_crawler_spark.synth import webgen
        self.wl = wl
        self.work = host.make_work_dir(f"{wl.name}-{seed}",
                                       wl.disk_need_bytes())
        self.web = os.path.join(self.work, "web")
        self.layer = {}
        t0 = time.perf_counter()
        webgen.generate(self.web, extract_procs=1, **wl.web_params(seed))
        self.layer["synth.gen_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.oracle = Oracle(self.web, wl)
        self.layer["oracle.sim_s"] = time.perf_counter() - t0
        gc.collect()
        self.spark = None
        self.base_state = None
        self.n_iter = 0
        self.attempted = 0
        self.bad = {}

    def close(self) -> None:
        """Stop Spark while the web and engine state are deleted; Spark's
        own scratch dirs go once the JVM has ended."""
        from perfbench import host
        data = [os.path.join(self.work, d) for d in os.listdir(self.work)
                if d not in ("spark-local", "tmp")]

        def remove_data():
            for d in data:
                shutil.rmtree(d, ignore_errors=True)

        remover = threading.Thread(target=remove_data)
        remover.start()
        try:
            if self.spark is not None:
                host.stop_spark(self.spark)
        finally:
            remover.join()
            host.remove_work_dir(self.work)

    def _account(self, chk: dict) -> None:
        self.attempted += chk["attempted"]
        for k, v in chk["bad_by_kind"].items():
            self.bad[k] = self.bad.get(k, 0) + v

    def setup(self) -> float:
        """SparkSession start + the untimed warm-up.  A fresh crawl warms
        up on the first ``WARMUP_WAVES`` waves of an iteration (compacting
        on the last) and its assembly and sink writes.  A recrawl warms up
        on the crawl whose state every iteration copies; that crawl runs
        the same layers and is checked against the oracle."""
        from perfbench import workloads as W
        from perfbench import host
        t0 = time.perf_counter()
        self.spark = host.start_spark(self.work, os.cpu_count() or 1)
        if self.wl.recrawl:
            self.base_state = os.path.join(self.work, "base")
            eng, stats = W.base_crawl(self.spark, self.wl, self.web,
                                      self.base_state, _no_span)
            setup_s = time.perf_counter() - t0
            self._account(self.oracle.check(
                self.spark, eng, 0, stats, self.oracle.phases[0],
                self.base_state, recrawl=False))
        else:
            self.iteration(_no_span, max_waves=W.WARMUP_WAVES,
                           compact_every=W.WARMUP_WAVES)
            setup_s = time.perf_counter() - t0
        return setup_s

    def _work_dir(self) -> str:
        return os.path.join(self.work, f"it{self.n_iter}")

    def iteration(self, span, **override) -> dict:
        from perfbench import workloads as W
        self.n_iter += 1
        return W.run_iteration(self.spark, self.wl, self.web,
                               self._work_dir(), self.base_state, span,
                               **override)

    def finish(self, it: dict, tracer=None, sink_passes: int = 1) -> dict:
        """Measure the sink rate over ``sink_passes``, check the
        iteration's outputs and take its layer metrics when traced."""
        from perfbench import host
        from perfbench import trace as T
        from perfbench import workloads as W
        work_dir = self._work_dir()
        it["sink_rate"] = W.sink_rate(self.spark, it["engine"], work_dir, it,
                                      sink_passes)
        t0 = time.perf_counter()
        chk = self.oracle.check(self.spark, it["engine"], it["w0"],
                                it["stats"], self.oracle.phases[-1],
                                work_dir, self.wl.recrawl)
        self._account(chk)
        _log(f"iteration {self.n_iter}: run {it['run_s']:.2f} s, "
             f"{len(it['stats'])} waves, {it['urls']} URLs; "
             f"check {time.perf_counter() - t0:.2f} s, bad {chk['bad']}")
        it["sink_rows"] = chk["sink_rows"]
        if tracer is not None:
            state_bytes = host.dir_bytes(work_dir) - (
                host.dir_bytes(self.base_state) if self.base_state else 0)
            it["layer"] = T.layer_metrics(self.spark, it, tracer,
                                          self.oracle.phases[-1], state_bytes)
        del it["engine"]
        return it

    def clean(self) -> None:
        """Before an iteration: delete the last one's state and cached
        data; release its DataFrames on both sides, so Spark's context
        cleaner deletes their shuffle files now, and wait for it.  The
        last iteration's state goes in ``close``."""
        from perfbench import host
        shutil.rmtree(self._work_dir(), ignore_errors=True)
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()
        host.settle_dir(os.path.join(self.work, "spark-local"))


def measure(run: Run, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Iterate while another iteration is expected to end within
    ``seconds`` (at least one); returns (untraced iterations' metrics,
    traced layer metrics).  With ``trace`` the iterations come in
    untraced-traced-untraced blocks, so a JVM that still gets faster from
    one iteration to the next does not pass for tracing overhead."""
    from perfbench import host
    from perfbench import trace as T
    from perfbench.workloads import SINK_PASSES
    pattern = (False, True, False) if trace else (False,)
    # trace runs print no sink rate
    sink_passes = 1 if trace else SINK_PASSES
    plain, traced = [], []
    cpu0 = host.cpu_times()
    rss = host.RssSampler(host.jvm_pid()).start()
    t_end = time.perf_counter() + seconds
    n = 0
    block_start = time.perf_counter()
    while True:
        run.clean()
        if pattern[n % len(pattern)]:
            tracer = T.Tracer().install()
            try:
                it = run.iteration(tracer.span)
            finally:
                tracer.uninstall()
            traced.append(run.finish(it, tracer)["layer"])
            traced[-1]["run_s"] = it["run_s"]
        else:
            plain.append(run.finish(run.iteration(_no_span),
                                    sink_passes=sink_passes))
        n += 1
        if n % len(pattern) == 0:
            # start another block only if one more is expected to fit
            now = time.perf_counter()
            if now + (now - block_start) > t_end:
                break
            block_start = now
    peak_mb = rss.stop()
    shares = host.cpu_shares(cpu0, host.cpu_times())
    waves = [w for it in plain for w in it["wave_s"]]
    med = statistics.median
    e2e = {
        "urls_per_s": med(it["urls"] / it["crawl_s"] for it in plain),
        "run_s": med(it["run_s"] for it in plain),
        "wave_p50_s": med(waves),
        "wave_p75_s": statistics.quantiles(waves, n=4, method="inclusive")[2],
        "sink_companies_per_s": med(it["sink_rate"] for it in plain),
        "jvm_peak_rss_mb": peak_mb,
    }
    _log(f"{len(plain)} untraced + {len(traced)} traced iterations, "
         f"{len(waves)} waves; host iowait {shares['iowait_pct']:.2f}% "
         f"steal {shares['steal_pct']:.2f}% busy {shares['busy_pct']:.1f}%")
    layer = {}
    if traced:
        layer = T.median_metrics(traced)
        del layer["run_s"]
        layer["trace.overhead_pct"] = 100.0 * (
            statistics.fmean(t["run_s"] for t in traced)
            / statistics.fmean(it["run_s"] for it in plain) - 1.0)
        layer["host.iowait_pct"] = shares["iowait_pct"]
        layer["host.steal_pct"] = shares["steal_pct"]
    return e2e, layer


def run_one(args) -> int:
    from perfbench.workloads import WORKLOADS
    wl = WORKLOADS[args.workload]
    _log(f"{wl.name} seed {args.seed}: web {wl.web_params(args.seed)}, "
         f"engine {wl.engine_params()}")
    t_start = time.perf_counter()
    run = Run(wl, args.seed)
    _log(f"web {run.layer['synth.gen_s']:.2f} s, "
         f"oracle {run.layer['oracle.sim_s']:.2f} s")
    try:
        setup_s = run.setup()
        e2e, layer = measure(run, args.seconds, bool(args.trace))
    finally:
        run.close()
    _log(f"setup {setup_s:.2f} s, process {time.perf_counter() - t_start:.2f} s")
    e2e["setup_s"] = setup_s
    layer.update(run.layer)
    failed = sum(run.bad.values())
    ratio = failed / run.attempted if run.attempted else 1.0
    for k, v in e2e.items():
        _log(f"  {k:24s} {v:12.4f} {END_TO_END[k]}")
    _log(f"  {'bad_url_ratio':24s} {ratio:12.4f} ratio  "
         f"({failed} bad of {run.attempted} URLs: {run.bad})")
    if args.trace:
        from perfbench.trace import PER_LAYER
        metrics = {k: {"value": layer[k], "unit": unit}
                   for k, unit in PER_LAYER.items()}
        for k, m in metrics.items():
            _log(f"  {k:34s} {m['value']:12.4f} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload in its own process; a table of end-to-end metrics."""
    from perfbench.workloads import WORKLOADS
    rc = 0
    rows = []
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", "0"], stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            rc = 1
        if not lines:
            continue
        out = json.loads(lines[-1])
        ratio = out["failed"] / max(out["attempted"], 1)
        for k, m in out["metrics"].items():
            rows.append((name, k, m["value"], m["unit"]))
        rows.append((name, "bad_url_ratio", ratio, "ratio"))
    for name, k, v, unit in rows:
        print(f"{name:16s} {k:22s} {v:14.4f} {unit}")
    return rc


def main(argv=None) -> int:
    try:
        import new_ent_crawler_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        _log(f"cannot import the engine ({e}); run from a checkout root")
        return 2
    from perfbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
