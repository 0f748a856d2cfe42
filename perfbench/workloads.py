"""The two workloads, their set-up, their checks, and the traced layer
census.  :class:`Run` holds one invocation's state."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import curate
import etl
import gen
import serve
import spans as spans_mod
from common import (canon_hash, dir_bytes, heap_peak_mb, jit_cpu_s, median, peak_rss_mb,
                    start_session, tree_cpu_s)
from spans import Tracer

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_cpu_s": "s", "cpu_ms_per_item": "ms"}
OP_SPAN = {"etl_refresh": "cycle", "curate_corpus": "pass"}


def cpu_since(c0) -> tuple[float, float]:
    """(CPU seconds of the process tree without the JIT compiler threads,
    CPU seconds of the JIT compiler threads) since ``c0 = tree_cpu_s()``.
    JIT compilation is warm-up work whose share of an operation depends on
    how far the host let it get; it is reported, not gated."""
    c1 = tree_cpu_s()
    jit = jit_cpu_s(c0[1], c1[1])
    return c1[0] - c0[0] - jit, jit


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 spec: dict, work: str, cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spec = spec
        self.work = work
        self.cores = cores
        self.spark = None
        self.tracer = Tracer(enabled=trace)
        self.plain = Tracer(enabled=False)
        self.report: list[str] = []
        self.trace_record: dict = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, tuple[float, str]] = {}

    # ------------------------------------------------------------ plumbing

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit (it exits when its
        stdin closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def note(self, line: str) -> None:
        self.report.append(line)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.correct = False
        self.note(f"CHECK FAILED: {what}")

    def start(self) -> None:
        """Start the session (a cold JVM): the first part of setup_s."""
        t0 = time.perf_counter()
        self.spark = start_session()
        self.start_s = time.perf_counter() - t0
        self.tracer.spark = self.spark

    def warm(self, warm_op, n: int) -> None:
        """Run ``n`` warm-up operations: the rest of setup_s."""
        ops = []
        for _ in range(n):
            t0 = time.perf_counter()
            warm_op()
            ops.append(time.perf_counter() - t0)
        self.note(f"setup: start {self.start_s:.3f} s, warm-up "
                  + ", ".join(f"{w:.3f}" for w in ops))
        self.e2e["setup_s"] = self.start_s + sum(ops)
        self.layer["session.start_s"] = (self.start_s, "s")
        self.layer["session.warm_s"] = (sum(ops), "s")

    def execute(self) -> dict:
        getattr(self, self.workload)()
        fail_frac = self.failed / max(1, self.attempted)
        self.note(f"fail_frac = {fail_frac:.4f} ({self.failed} of {self.attempted})")
        if self.trace:
            self.census()
            self.spark.stop()
            self.spark = None
            metrics = self.fold_layers()
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in self.e2e.items()}
            self.note("end-to-end: " + ", ".join(
                f"{k} = {v:.4f} {E2E_UNITS[k]}" for k, v in self.e2e.items()))
        return {"correct": self.correct, "attempted": max(1, self.attempted),
                "failed": self.failed, "metrics": metrics}

    def sample_memory(self) -> None:
        """peak_rss_mb: taken after the timed loop and before any check."""
        m = peak_rss_mb()
        self.e2e["peak_rss_mb"] = m["python"] + m["jvm"]
        self.note(f"peak_rss_mb = {m['python'] + m['jvm']:.1f}: Python {m['python']:.1f}, "
                  f"JVM {m['jvm']:.1f} (heap pools' peak use {heap_peak_mb(self.spark):.1f} "
                  f"of a fixed {self.spec['driver_memory']} heap)")

    def another(self, start: float, done: int) -> bool:
        """Whether one more unit (a drop pattern, a pass) is likely to end
        within --seconds of ``start``.  Deciding on the expected end, not on
        the time left, keeps the unit count from flipping between runs on
        a machine whose unit time sits near --seconds.  A traced run needs
        no more than the minimum for its per-layer figures."""
        elapsed = time.perf_counter() - start
        return not self.trace and elapsed + elapsed / done <= self.seconds

    def tracer_for(self, k: int) -> Tracer:
        """Traced runs trace the ``k``-th operation of a kind in the order
        traced, untraced, traced (ABA), so the tracing overhead is measured
        inside one run and a steady drift cancels out of it."""
        return self.tracer if self.trace and k % 2 == 0 else self.plain

    # ------------------------------------------------------------ etl_refresh

    def etl_refresh(self) -> None:
        p = self.spec["etl_refresh"]
        warm_props = dict(p, size_pattern=["warm"])

        self.start()
        w = etl.Refresher(self.spark, os.path.join(self.work, "warm"), self.seed, warm_props,
                          "warm", self.spec["now_year"], self.plain)
        self.warm(lambda: w.cycle(*w.make_drop()), p["warm_cycles"])
        ref = etl.Refresher(self.spark, os.path.join(self.work, "etl"), self.seed, p, "etl",
                            self.spec["now_year"], self.tracer)
        self.ref = ref
        start = time.perf_counter()
        walls = []
        i = 0
        pattern = len(p["size_pattern"])
        # whole size patterns only, so every run ingests the same mix
        while i < pattern or i % pattern or self.another(start, i // pattern):
            idx, files = ref.make_drop()
            kind = p["size_pattern"][i % pattern]
            ref.tracer = self.tracer_for(sum(k == kind for _, _, k in walls))
            c0, t0 = tree_cpu_s(), time.perf_counter()
            with ref.tracer.span("cycle", f"e2e-{i}"):
                rec = ref.cycle(idx, files, request=f"e2e-{i}")
            walls.append((time.perf_counter() - t0, ref.tracer is self.tracer, kind))
            rec["cpu_s"], rec["jit_s"] = cpu_since(c0)
            self.attempted += 1
            if not rec["fresh_ok"]:
                self.fail(f"drop {idx}: the page view after the refresh missed its rows")
            i += 1
        ref.tracer = self.tracer
        self.sample_memory()  # before the checks load pandas and DuckDB
        s = etl.summarize(ref.cycles)
        sink_bytes, _ = ref.sink_stats()
        self.e2e["op_cpu_s"] = s["cpu_p50_s"]
        self.e2e["cpu_ms_per_item"] = s["cpu_ms_per_item"]
        self.note(f"etl_rows_per_s = {s['rows_per_s']:.1f} rows/s over {s['cycles']} cycles, "
                  f"{s['items']} raw items")
        self.note(f"etl_fresh_p50_s = {s['fresh_p50_s']:.4f} s")
        self.note("cycle_s = " + ", ".join(f"{c['cycle_s']:.3f}" for c in ref.cycles))
        self.note("cycle_cpu_s = " + ", ".join(f"{c['cpu_s']:.2f}" for c in ref.cycles)
                  + " (JIT compiler threads: "
                  + ", ".join(f"{c['jit_s']:.2f}" for c in ref.cycles) + ")")
        self.note(f"sink_bytes_per_input_byte = {sink_bytes / ref.input_bytes:.4f}")
        # tracing overhead in CPU time, like the gated metrics
        self.overhead = [(c["cpu_s"], traced, kind)
                         for c, (_, traced, kind) in zip(ref.cycles, walls)]
        chk = ref.check()
        self.winner_mismatch = chk["winner_mismatch"]
        self.attempted += 1
        if not chk["ok"]:
            self.fail(f"sink has {chk['rows']} rows, expected {chk['expected']} distinct URLs")
        self.note(f"load.winner_mismatch = {chk['winner_mismatch']} of {chk['rows']} URLs")
        sp = self.spec["serving"]
        twin = gen.page_requests(self.seed, sp, sp["twin_check_views"], "twin")
        bad = serve.twin_check(self.spark.read.parquet(ref.sink), ref.sink, twin)
        self.attempted += len(twin)
        if bad:
            self.fail(f"{len(bad)} page views differ from the DuckDB twin: {bad[:2]}", len(bad))

    # ------------------------------------------------------------ curate_corpus

    def curate_corpus(self) -> None:
        p = self.spec["curate_corpus"]
        corpus_dir = os.path.join(self.work, "corpus")
        # the corpus and the DuckDB oracle are made in a child process that
        # has exited before peak_rss_mb is sampled
        subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "curate.py"),
                        "--seed", str(self.seed), "--out", corpus_dir], check=True)
        with open(os.path.join(corpus_dir, "prepared.json")) as f:
            prepared = json.load(f)
        self.cluster = {int(k): v for k, v in prepared["cluster"].items()}
        self.corpus_dir = corpus_dir
        state = {"oracle": tuple(prepared["oracle"])}

        def warm_pass():
            state["warm"] = canon_hash(curate.curation_pass(self.spark, corpus_dir, self.plain))

        self.start()
        self.warm(warm_pass, p["warm_passes"])
        self.attempted += 1
        if state["warm"] != state["oracle"]:
            self.fail(f"curation differs from the DuckDB oracle: {state['warm']} vs "
                      f"{state['oracle']}")
        passed = state["warm"]
        start = time.perf_counter()
        walls, cpus = [], []
        i = 0
        # a traced run first settles the JIT with one more untraced pass,
        # then runs the traced, untraced, traced passes of its overhead figure
        settle = 1 if self.trace else 0
        min_passes = settle + 3 if self.trace else p["min_passes"]
        while i < min_passes or self.another(start, i):
            tr = self.plain if i < settle else self.tracer_for(i - settle)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            frames = curate.curation_pass(self.spark, corpus_dir, tr, f"e2e-{i}")
            walls.append((time.perf_counter() - t0, tr is self.tracer,
                          "settle" if i < settle else "pass"))
            cpus.append(cpu_since(c0))
            self.attempted += 1
            if canon_hash(frames) != passed:
                self.fail(f"pass {i}: result hash differs from the oracle-checked one")
            i += 1
        self.sample_memory()
        pass_s = median(w for w, _, _ in walls)
        self.note("pass_s = " + ", ".join(f"{w:.3f}" for w, _, _ in walls))
        self.note("pass_cpu_s = " + ", ".join(f"{c:.2f}" for c, _ in cpus)
                  + " (JIT compiler threads: " + ", ".join(f"{j:.2f}" for _, j in cpus) + ")")
        self.e2e["op_cpu_s"] = median(c for c, _ in cpus)
        self.e2e["cpu_ms_per_item"] = sum(c for c, _ in cpus) / (len(cpus) * p["docs"]) * 1000
        self.note(f"curate_docs_per_s = {p['docs'] / pass_s:.1f} docs/s at {p['docs']} docs, "
                  f"{len(walls)} passes")
        self.overhead = [(c, traced, kind) for (c, _), (_, traced, kind) in zip(cpus, walls)]

    # ------------------------------------------------------------ traced census

    def census(self) -> None:
        """Profile every layer.  The workload's own layers run on its own
        inputs; the others on the small seeded inputs of spec.census."""
        c = self.spec["census"]
        t = self.tracer
        self.census_counts = {}
        # write side
        if self.workload == "etl_refresh":
            ref = self.ref
            ref.tracer = t
            kind = "full"
        else:
            # a sink of one small drop for the stage census and the page
            # views; on this workload these figures are cold and only
            # complete the record
            kind = "warm"
            props = dict(self.spec["etl_refresh"], size_pattern=[kind])
            ref = etl.Refresher(self.spark, os.path.join(self.work, "census"), self.seed,
                                props, "census", self.spec["now_year"], t)
            idx, files = ref.make_drop()
            with t.span("cycle", "census-sink"):
                ref.cycle(idx, files, request="census-sink")
            self.winner_mismatch = ref.check()["winner_mismatch"]
        self.census_counts["etl"] = etl.stage_drop(self.spark, ref, t, kind)
        self.sink_files = dir_bytes(ref.sink, ".parquet")[1]
        self.sink_ratio = ref.sink_stats()[0] / max(1, ref.input_bytes)
        # read side
        sp = self.spec["serving"]
        events = self.spark.read.parquet(ref.sink)
        for k, req in enumerate(gen.census_requests(sp)):
            serve.staged_view(events, req, t, f"census-view-{k}")
        # batch side
        if self.workload == "curate_corpus":
            corpus_dir, cluster = self.corpus_dir, self.cluster
        else:
            corpus_dir = os.path.join(self.work, "census_corpus")
            cluster = gen.write_corpus(self.seed, self.spec["curate_corpus"], corpus_dir,
                                       n_docs=c["docs"])
        self.census_counts["curate"] = curate.staged(self.spark, corpus_dir, cluster, t)

    def fold_layers(self) -> dict:
        spans = self.tracer.spans
        log = spans_mod.read_event_log(os.path.join(self.work, "eventlog"))
        agg = spans_mod.fold(spans, log, self.cores)
        deep = self.spec["serving"]["deep_page_min"]

        def named(name, prefix=None, pred=lambda s: True):
            return [s for s in spans if s["name"] == name and pred(s)
                    and (prefix is None or (s.get("request") or "").startswith(prefix))]

        def ms(ss):
            return median((s["end"] - s["start"]) * 1000 for s in ss)

        def sec(ss):
            return median(s["end"] - s["start"] for s in ss)

        L = dict(self.layer)
        views = named("view", "census-view")
        L["serving.build_ms"] = (ms(named("serving.build")), "ms")
        L["serving.page_search_ms"] = (
            ms(named("serving.page_search", pred=lambda s: s["page"] < deep)), "ms")
        L["serving.page_browse_ms"] = (
            ms(named("serving.page_browse", pred=lambda s: s["page"] < deep)), "ms")
        L["serving.count_ms"] = (ms(named("serving.count", "census-view")), "ms")
        L["serving.dims_ms"] = (ms(named("serving.dims", "census-view")), "ms")
        pages = [s for s in spans if s["name"] in ("serving.page_search", "serving.page_browse")]
        L["pagination.deep_page_ms"] = (ms([s for s in pages if s["page"] >= deep]), "ms")
        rows = sum(s["rows"] for s in pages)
        L["serving.rows_examined_per_row_returned"] = (
            sum(agg[s["id"]]["scan_rows"] for s in pages) / max(1, rows), "ratio")
        L["serving.jobs_per_view"] = (median(agg[s["id"]]["jobs"] for s in views), "count")
        L["load.sink_files"] = (self.sink_files, "count")
        L["load.sink_bytes_per_input_byte"] = (self.sink_ratio, "ratio")
        for k in ("parse", "dispatch", "dedup", "standardize"):
            L[f"canonicalize.{k}_s"] = (sec(named(f"canonicalize.{k}")), "s")
        ec = self.census_counts["etl"]
        L["canonicalize.valid_frac"] = (ec["valid"] / max(1, ec["raw"]), "frac")
        L["load.raw_append_s"] = (sec(named("load.raw_append")), "s")
        L["load.anti_join_s"] = (sec(named("load.anti_join")), "s")
        L["load.append_s"] = (sec(named("load.append")), "s")
        L["load.dup_rejected_frac"] = (1 - ec["fresh"] / max(1, ec["valid"]), "frac")
        L["load.winner_mismatch"] = (self.winner_mismatch, "count")
        etl_spans = named("streaming.incremental_etl")
        L["streaming.cycle_s"] = (sec(etl_spans), "s")
        L["streaming.microbatches"] = (median(s["microbatches"] for s in etl_spans), "count")
        L["streaming.overhead_s"] = (median(agg[s["id"]]["driver_gap_s"] for s in etl_spans), "s")
        cc = self.census_counts["curate"]
        L["text_analysis.funnel_s"] = (sec(named("text_analysis.funnel")), "s")
        L["text_analysis.kept_frac"] = (cc["kept"] / max(1, cc["docs"]), "frac")
        L["dedup.lsh_s"] = (sec(named("dedup.lsh")), "s")
        L["dedup.lsh_candidates"] = (cc["candidates"], "count")
        L["dedup.lsh_verified_frac"] = (cc["pairs"] / max(1, cc["candidates"]), "frac")
        L["dedup.resolve_s"] = (sec(named("dedup.resolve")), "s")
        L["dedup.resolve_jobs"] = (median(agg[s["id"]]["jobs"] for s in named("dedup.resolve")),
                                   "count")
        L["dedup.recall"] = (cc["recall"], "frac")
        km = named("similarity.kmeans")
        L["similarity.kmeans_s"] = (sec(km), "s")
        L["similarity.kmeans_jobs"] = (median(agg[s["id"]]["jobs"] for s in km), "count")
        L["similarity.pairs_s"] = (max(0.0, sec(named("similarity.semdedup")) - sec(km)), "s")
        # mean per operation of the workload's own traced end-to-end loop
        ops = named(OP_SPAN[self.workload], "e2e")
        per_op = {k: sum(agg[s["id"]][k] for s in ops) / len(ops) for k in agg[ops[0]["id"]]}
        L["driver.gap_s"] = (per_op["driver_gap_s"], "s")
        L["jobs.count"] = (per_op["jobs"], "count")
        L["jobs.idle_core_s"] = (per_op["idle_core_s"], "s")
        L["executor.run_s"] = (per_op["run_s"], "s")
        L["executor.cpu_s"] = (per_op["cpu_s"], "s")
        L["executor.gc_s"] = (per_op["gc_s"], "s")
        L["executor.shuffle_bytes"] = (per_op["shuffle_bytes"], "bytes")
        L["executor.spill_bytes"] = (per_op["spill_bytes"], "bytes")
        # traced over untraced, among operations of the same kind (size)
        ratios = []
        for kind in {k for _, _, k in self.overhead}:
            on = [c for c, traced, k in self.overhead if k == kind and traced]
            off = [c for c, traced, k in self.overhead if k == kind and not traced]
            if on and off:
                ratios.append(median(on) / median(off) - 1)
        L["trace.overhead_frac"] = (median(ratios), "frac")
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in L.items()}
        self.trace_record = {
            "workload": self.workload, "seed": self.seed, "cores": self.cores,
            "metrics": metrics, "census_counts": self.census_counts,
            "spans": [dict(s, spark=agg.get(s["id"])) for s in spans],
        }
        for k, (v, u) in sorted(L.items()):
            self.note(f"{k} = {v:.6g} {u}")
        return metrics
