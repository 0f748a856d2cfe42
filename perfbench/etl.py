"""The write side: raw drops → ``raw_zone_append`` → ``incremental_etl``
→ a page view that must show the drop's new rows.

Used by the ``etl_refresh`` workload and by every traced run's layer
census.
"""

from __future__ import annotations

import os
import time

import gen
from common import dir_bytes, median
from spans import Tracer


class Refresher:
    """One raw zone, sink and checkpoint, fed by one seeded drop stream."""

    def __init__(self, spark, root: str, seed: int, props: dict, stream: str,
                 now_year: int, tracer: Tracer):
        self.spark = spark
        self.root = root
        self.raw = os.path.join(root, "raw")
        self.sink = os.path.join(root, "sink")
        self.ckpt = os.path.join(root, "ckpt")
        self.drops_dir = os.path.join(root, "drops")
        self.seed = seed
        self.props = props
        self.now_year = now_year
        self.tracer = tracer
        self.drops = gen.DropStream(seed, props, stream, now_year)
        self.next_id = 0
        self.input_bytes = 0
        self.cycles: list[dict] = []

    def make_drop(self, kind: str | None = None) -> tuple[int, list]:
        """Generate and write the next drop (untimed): the next kind of
        the size pattern, or ``kind``."""
        idx = self.drops.n_drops
        counts = gen.drop_counts(self.seed, self.props, idx, kind)
        files = gen.write_drop(self.drops.next_drop(counts), self.drops_dir, idx)
        return idx, files

    def append(self, files) -> None:
        from nashville_etl_service_backup_spark.plans.load import raw_zone_append
        from nashville_etl_service_backup_spark.schemas import RAW_ITEM_SCHEMA

        for spider, path, n in files:
            items = self.spark.read.schema(RAW_ITEM_SCHEMA).json(path)
            raw_zone_append(items, spider, self.raw, start_id=self.next_id)
            self.next_id += n

    def run_etl(self) -> int:
        """One AvailableNow run; returns the number of micro-batches."""
        from nashville_etl_service_backup_spark.streaming.pipeline import incremental_etl

        q = incremental_etl(self.spark, self.raw, self.sink, self.ckpt, now_year=self.now_year)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return sum(1 for p in q.recentProgress if p.get("numInputRows", 0) > 0)

    def cycle(self, idx: int, files, view: bool = True, request: str | None = None) -> dict:
        """Append one drop, refresh, then page-view it.  Times are taken
        from the drop landing (the start of the raw-zone append)."""
        t = self.tracer
        t_land = time.perf_counter()
        with t.span("load.raw_append", request):
            self.append(files)
        with t.span("streaming.incremental_etl", request, by_time=True) as sp:
            sp["microbatches"] = self.run_etl()
        rec = {"cycle_s": time.perf_counter() - t_land, "items": sum(n for _, _, n in files)}
        if view:
            from serve import page_view

            events = self.spark.read.parquet(self.sink)
            req = {"search": gen.drop_marker(idx), "source": None, "category": None, "page": 1}
            rows = page_view(events, req, t, request)[0]
            rec["fresh_s"] = time.perf_counter() - t_land
            rec["fresh_ok"] = len(rows) > 0
        self.input_bytes += sum(os.path.getsize(p) for _, p, _ in files)
        self.cycles.append(rec)
        return rec

    def check(self) -> dict:
        """Untimed: the sink's URL set and row count equal the generator's
        distinct valid URLs, no URL twice; winner mismatches counted."""
        pdf = self.spark.read.parquet(self.sink).select("url", "description").toPandas()
        expected = self.drops.expected_urls
        urls = list(pdf["url"])
        mismatch = 0
        for url, desc in zip(pdf["url"], pdf["description"]):
            if self.drops.first_valid.get(url) != str(desc).rsplit(" ", 1)[-1]:
                mismatch += 1
        ok = len(urls) == len(set(urls)) == len(expected) and set(urls) == expected
        return {"ok": ok, "rows": len(urls), "expected": len(expected),
                "winner_mismatch": mismatch}

    def sink_stats(self) -> tuple[int, int]:
        return dir_bytes(self.sink, ".parquet")


def stage_drop(spark, ref: Refresher, tracer: Tracer, kind: str) -> dict:
    """Traced layer census of one drop: every stage of the refresh is
    materialized from the cached output of the stage before it, so each
    span is that stage's own time."""
    from nashville_etl_service_backup_spark.operators import release_persisted
    from nashville_etl_service_backup_spark.plans.canonicalize import (
        canonicalize_bronze,
        parse_raw,
        standardize,
    )
    from nashville_etl_service_backup_spark.plans.load import dedup_new_rows, raw_zone_append
    from nashville_etl_service_backup_spark.schemas import RAW_ITEM_SCHEMA

    idx, files = ref.make_drop(kind)
    staged_raw = os.path.join(ref.root, f"stage_raw_{idx}")
    start = ref.next_id
    for spider, path, n in files:
        raw_zone_append(spark.read.schema(RAW_ITEM_SCHEMA).json(path), spider, staged_raw, start)
        start += n
    cached = []

    def keep(df):
        df = df.cache()
        cached.append(df)
        return df, df.count()

    raw, n_raw = keep(spark.read.parquet(staged_raw))
    with tracer.span("canonicalize.parse"):
        parsed, _ = keep(parse_raw(raw))
    with tracer.span("canonicalize.dispatch"):
        canon, n_valid = keep(canonicalize_bronze(parsed))
    with tracer.span("canonicalize.dedup"):
        dd, n_dd = keep(canon.dropDuplicates(["url"]))
    with tracer.span("canonicalize.standardize"):
        std, _ = keep(standardize(dd, ref.now_year))
    existing = spark.read.parquet(ref.sink)
    with tracer.span("load.anti_join"):
        fresh, n_fresh = keep(dedup_new_rows(std, existing))
    with tracer.span("load.append"):
        fresh.write.mode("append").parquet(os.path.join(ref.root, f"stage_sink_{idx}"))
    for df in cached:
        df.unpersist()
    release_persisted()
    return {"raw": n_raw, "valid": n_valid, "fresh": n_fresh}


def summarize(cycles: list[dict]) -> dict:
    items = sum(c["items"] for c in cycles)
    busy = sum(c["cycle_s"] for c in cycles)
    return {
        "cycles": len(cycles),
        "items": items,
        "rows_per_s": items / busy if busy else 0.0,
        "fresh_p50_s": median(c["fresh_s"] for c in cycles if "fresh_s" in c),
        "cpu_p50_s": median(c["cpu_s"] for c in cycles),
        "cpu_ms_per_item": sum(c["cpu_s"] for c in cycles) / items * 1000,
    }
