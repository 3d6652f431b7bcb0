#!/usr/bin/env python3
"""Forensics probe: run the bench crawl at one parallelism level and dump
per-wave stage timings (run_wave's timings dict) so the thread-scaling of
each fixed-cost stage is visible.

Usage: python BENCH/probe_waves.py CPUS
Env:   BENCH_CRAWL_COMPANIES / BENCH_FILLER_KB as in bench.py
"""
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_DRIVER_MEM", "56g")

from new_ent_crawler_spark.session import get_spark  # noqa: E402
from new_ent_crawler_spark.plans.wave import WaveEngine  # noqa: E402
import bench  # noqa: E402

cpus = int(sys.argv[1])
web_dir = bench._bench_web(int(os.environ.get("BENCH_CRAWL_COMPANIES", "19200")))
spark = get_spark(app=f"probe-{cpus}", cpus=cpus,
                  shuffle_partitions=max(2 * cpus, 8),
                  extra_conf=bench._bench_conf())

# steady-state warmup identical to bench.run_crawl
wwork = os.path.join(bench._scratch_dir(), f"probe_warm_{cpus}")
shutil.rmtree(wwork, ignore_errors=True)
WaveEngine(spark, bench._warmup_web(), wwork, per_host_k=100, max_waves=40,
           cache_pages=False, expected_total_urls=10_000).run(resume=False)
shutil.rmtree(wwork, ignore_errors=True)

work = os.path.join(bench._scratch_dir(), f"probe_work_{cpus}")
shutil.rmtree(work, ignore_errors=True)
eng = WaveEngine(spark, web_dir, work,
                 per_host_k=int(os.environ.get("BENCH_PER_HOST_K", "9600")),
                 max_waves=40,
                 cache_pages=False, expected_total_urls=2_000_000,
                 salt_buckets=16)
ticks0 = bench._cpu_ticks()
t0 = time.perf_counter()
stats = eng.run(resume=False)
el = time.perf_counter() - t0
ticks1 = bench._cpu_ticks()
totals = {}
for s in stats:
    for k, v in s.get("timings", {}).items():
        totals[k] = round(totals.get(k, 0) + v, 2)
out = {"cpus": cpus, "total_s": round(el, 2), "stage_totals": totals,
       "n_parsed": eng.extracted().count(),
       "waves": [{k: s[k] for k in ("wave", "claimed", "new", "timings")
                  if k in s} for s in stats]}
out.update(bench._tick_pcts(ticks0, ticks1))
print(json.dumps(out, indent=1))
spark.stop()
shutil.rmtree(work, ignore_errors=True)
