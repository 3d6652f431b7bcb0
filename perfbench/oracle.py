"""Expected results per (workload, seed) and the check of one iteration.

The expectations come from the engine's single-process references:
``simulator.Simulator`` (seen set, crawl order, statuses) and
``Simulator.assemble_all`` -> ``oracle.sink.build_sink_records`` (the four
sink tables).  Golden per-URL text is ``pages.text``.  For a recrawl the
simulator replays the same requeue (every fetched row back to pending,
every host back to a full recrawl budget) and runs again.
"""

from __future__ import annotations

import os
from collections import Counter
from datetime import timedelta, timezone

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from new_ent_crawler_spark.operators.frontier import (STATUS_FOUND,
                                                      STATUS_PENDING)
from new_ent_crawler_spark.oracle import sink as SK
from new_ent_crawler_spark.simulator import Simulator
from new_ent_crawler_spark.sources.snapshot import SnapshotTable
from new_ent_crawler_spark.synth import webgen

from .workloads import SINKS

_CST = timezone(timedelta(hours=8))
ORDER_COLS = ["wave_id", "priority", "depth", "page_type_score",
              "enqueue_wave", "url"]


def _str(v):
    return None if v is None else str(v)


class Expected:
    """What the engine must produce for one crawl phase."""

    def __init__(self, sim: Simulator, order_from: int, ts_map: dict,
                 html_bytes: dict):
        order = sim.crawl_order()[order_from:]
        first = order[0][0] - 1 if order else 0
        self.order = [(w - first, u) for w, u in order]
        self.seen = set(sim.seen_urls())
        self.statuses = sim.statuses()
        urls = {u for _, u in order}
        self.extracted = {u for u in sim.extracted if u in urls}
        self.html_bytes = sum(html_bytes.get(u, 0) for _, u in order)
        self.assemble_bytes = sum(
            html_bytes.get(e.url, 0) for e in sim.frontier.values()
            if e.company is not None and e.status == STATUS_FOUND)
        self.sinks = {name: Counter() for name, _ in SINKS}
        for company, info in sim.assemble_all().items():
            create_time = ts_map[company].astimezone(_CST).strftime(
                "%Y-%m-%d")
            host = company.split("://")[1].split("/")[0]
            recs = SK.build_sink_records(info, host, create_time)
            for name, rows in (("business_info", [recs["business"]]),
                               ("enterprise_info", [recs["enterprise"]]),
                               ("report_info", recs["reports"]),
                               ("main_url_record", [recs["main_url"]])):
                for row in rows:
                    self.sinks[name][tuple(sorted(
                        (k, _str(v)) for k, v in row.items()))] += 1


class Oracle:
    """Golden text plus the expected phases: ``phases[-1]`` is what every
    timed iteration must match; a recrawl also has its set-up crawl."""

    def __init__(self, web_dir: str, wl):
        tbl = pq.read_table(os.path.join(web_dir, "pages.parquet"),
                            columns=["url", "text", "warc_ts", "html"])
        urls = tbl.column("url").to_pylist()
        self.golden = dict(zip(urls, tbl.column("text").to_pylist()))
        html_bytes = dict(zip(
            urls, pc.binary_length(tbl.column("html")).to_pylist()))
        ts_map = dict(zip(urls, tbl.column("warc_ts").to_pylist()))
        del tbl
        seeds = pq.read_table(os.path.join(web_dir, "seeds.parquet"))
        robots = pq.read_table(os.path.join(web_dir, "robots.parquet"))
        sim = Simulator(webgen.load_fetch(web_dir), seeds.to_pylist(),
                        {r["host"]: (r["disallow"], r["crawl_delay"])
                         for r in robots.to_pylist()},
                        per_host_k=wl.base_per_host_k or wl.per_host_k,
                        max_waves=wl.max_waves)
        sim.run()
        self.phases = [Expected(sim, 0, ts_map, html_bytes)]
        if wl.recrawl:
            n_base = len(sim.crawl_order())
            last_wave = sim.crawl_order()[-1][0]
            for e in sim.frontier.values():
                if e.status >= STATUS_FOUND:
                    e.status, e.attempts = STATUS_PENDING, 0
                    e.enqueue_wave = last_wave + 1
            sim.per_host_k = wl.per_host_k
            sim.tokens = {h: float(wl.per_host_k) for h in sim.tokens}
            sim.run()
            self.phases.append(Expected(sim, n_base, ts_map, html_bytes))

    def check(self, spark, eng, w0: int, stats: list, expected: Expected,
              work_dir: str, recrawl: bool) -> dict:
        """Count bad URLs/rows of one finished iteration against
        ``expected``: text differing from golden ``pages.text``, URLs
        missing from or extra to the seen set or the crawl order, status
        mismatches, sink rows differing from the oracle, and (recrawl) any
        newly discovered URL."""
        ext = (eng.extracted().filter(F.col("wave_id") > w0)
               .select(*ORDER_COLS, "text").toPandas())
        ext = ext.sort_values(
            ORDER_COLS, ascending=[True, False, True, False, True, True],
            kind="mergesort")
        order = [(int(w) - w0, u) for w, u in zip(ext["wave_id"], ext["url"])]
        bad = {}
        if order == expected.order:
            bad["order"] = 0
        else:
            bad["order"] = len(set(order) ^ set(expected.order)) or sum(
                a != b for a, b in zip(order, expected.order)) or 1
        has_text = ext[ext["text"].notna()]
        bad["text"] = int(sum(self.golden.get(u) != t for u, t in
                              zip(has_text["url"], has_text["text"])))
        bad["extracted"] = len(set(has_text["url"]) ^ expected.extracted)
        fr = eng.frontier().select("url", "status").toPandas()
        statuses = dict(zip(fr["url"], fr["status"].astype(int)))
        bad["seen"] = len(set(statuses) ^ expected.seen)
        bad["status"] = sum(statuses.get(u) != s
                            for u, s in expected.statuses.items())
        if recrawl:
            bad["new_urls"] = sum(s.get("new", 0) for s in stats)
        sink_rows = 0
        bad["sink"] = 0
        for name, _ in SINKS:
            got = Counter()
            table = SnapshotTable(os.path.join(work_dir, name))
            for d in table.current_snapshot()["dirs"]:
                for row in pq.read_table(os.path.join(table.path, d)) \
                        .to_pylist():
                    got[tuple(sorted((k, _str(v)) for k, v in row.items()))] += 1
            sink_rows += sum(got.values())
            want = expected.sinks[name]
            bad["sink"] += sum(((got - want) + (want - got)).values())
        return {"attempted": len(order), "bad": sum(bad.values()),
                "bad_by_kind": bad, "sink_rows": sink_rows}
