"""Traced mode: spans around the engine's public entry points, a py4j
call counter, a timing ``fs`` and Spark's event log, reduced to the
per-layer metrics listed in ``LAYER_METRICS``.

Nothing here edits the engine: entry points are wrapped by replacing
module and class attributes for the duration of the timed section and
restored afterwards. Spans are held in memory and written as JSON when
the run ends. Sums are reported per timed iteration.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

from sparkcrawler.fs import LocalFS

# name -> unit, in report order. Every traced run prints all of them;
# a layer a workload does not exercise reports 0.
LAYER_METRICS = {
    "setup.session_s": "s", "setup.corpus_s": "s", "setup.warm_s": "s",
    "trace.work_s": "s", "trace.spans": "count",
    "crawl.rounds": "count", "crawl.frontier_in": "row",
    "crawl.driver_other_s": "s", "crawl.resume_s": "s",
    "crawl.steady_urls_per_s": "URL/s",
    "round.build_s": "s", "round.build_py4j_calls": "call/round",
    "robots.build_s": "s", "robots.disallowed": "URL",
    "politeness.build_s": "s", "politeness.deferred": "row",
    "politeness.window_task_s": "s",
    "fetch.scan_bytes": "B", "fetch.files_read": "count", "fetch.task_s": "s",
    "extract.pages": "row", "extract.html_bytes": "B", "extract.boot_s": "s",
    "extract.init_s": "s", "extract.python_s": "s",
    "extract.data_sent_bytes": "B", "extract.py_compute_s": "s",
    "extract.ceiling_n_pages_per_s": "page/s",
    "extract.ceiling_n4_pages_per_s": "page/s", "extract.ceiling_eff": "ratio",
    "scale.steady_n_urls_per_s": "URL/s", "scale.steady_n4_urls_per_s": "URL/s",
    "scale.eff": "ratio",
    "seen.filter_build_s": "s", "seen.fold_build_s": "s",
    "seen.candidates": "row", "seen.new": "row", "seen.useful_ratio": "ratio",
    "seen.cogroup_task_s": "s", "seen.shuffle_bytes": "B",
    "hotdist.crawl_s": "s", "hotdist.ratio": "ratio",
    "hotdist.round_p50_s": "s",
    "hot.update_s": "s", "hot.ensure_s": "s", "hot.tag_s": "s",
    "hot.active": "count", "bloom.update_s": "s", "bloom.tag_s": "s",
    "sink.crawl_log_s": "s", "sink.frontier_s": "s",
    "sink.bytes_written": "B", "sink.files_written": "count",
    "fs.calls": "count", "fs.busy_s": "s", "fs.footer_reads": "count",
    "spark.jobs_per_round": "job/round", "spark.tasks": "count",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.task_skew": "ratio", "spark.core_util": "ratio",
    "py4j.calls": "count", "py4j.busy_s": "s",
    "ann.index_build_s": "s", "dedup.clusters_s": "s",
}


def _m(value, unit):
    return {"value": float(value), "unit": unit}


class TimingFS(LocalFS):
    """``LocalFS`` that records a span per call (passed as crawl(fs=...))."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.calls = 0
        self.busy_s = 0.0
        self.footer_reads = 0


def _timed_fs_method(name: str):
    base = getattr(LocalFS, name)

    def method(self, *args, **kwargs):
        if not self.tracer.active:
            return base(self, *args, **kwargs)
        t0 = time.perf_counter()
        with self.tracer.span(f"fs.{name}"):
            out = base(self, *args, **kwargs)
        self.calls += 1
        self.busy_s += time.perf_counter() - t0
        if name in ("parquet_num_rows", "parquet_column_names"):
            self.footer_reads += 1
        return out

    return method


for _name in (
    "exists", "makedirs", "glob", "write_json_atomic", "read_json",
    "write_text", "read_parquet", "parquet_num_rows", "parquet_column_names",
    "write_parquet",
):
    setattr(TimingFS, _name, _timed_fs_method(_name))


class Tracer:
    def __init__(self, work: str):
        self.work = work
        self.active = False
        self.spans: list[tuple] = []
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.sink_bytes = 0
        self.sink_files = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple] = []
        self._fs = TimingFS(self)
        self.event_dir = os.path.join(work, "eventlog")

    # ---- recording ----

    def event_log_conf(self) -> dict:
        os.makedirs(self.event_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.event_dir,
            "spark.eventLog.compress": "false",
        }

    def fs(self) -> TimingFS:
        return self._fs

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        p0 = self.py4j_calls
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(
                    (name, t0, time.time(), parent, self.py4j_calls - p0))

    def maybe_span(self, name: str):
        return self.span(name) if self.active else contextlib.nullcontext()

    def _wrap(self, owner, attr: str, name: str):
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, original))

    def install(self, spark) -> None:
        """Wrap the layer entry points and start recording."""
        import py4j.java_gateway as jg
        from pyspark.sql import DataFrameWriter

        import sparkcrawler.operators.dedup as dedup
        import sparkcrawler.operators.ann as ann
        import sparkcrawler.plans.crawl as pc
        import sparkcrawler.plans.round as pr
        from sparkcrawler.operators.cuckoo import DistributedHotHostFilter
        from sparkcrawler.operators.seen import DistributedBloom, ExactSeenShards

        self._wrap(pc, "build_round", "round.build")
        self._wrap(pc, "discovered_links", "round.discover")
        self._wrap(pc, "dedup_against_seen", "seen.filter_build")
        self._wrap(pr, "apply_robots_gate", "robots.build")
        self._wrap(pr, "politeness_decided", "politeness.build")
        self._wrap(ExactSeenShards, "filter_new", "seen.filter_build")
        self._wrap(ExactSeenShards, "update_from_df", "seen.fold_build")
        self._wrap(DistributedBloom, "update_from_df", "bloom.update")
        self._wrap(DistributedBloom, "tag_maybe", "bloom.tag")
        self._wrap(DistributedHotHostFilter, "update_from_df", "hot.update")
        self._wrap(DistributedHotHostFilter, "ensure_hosts", "hot.ensure")
        self._wrap(DistributedHotHostFilter, "tag_maybe", "hot.tag")
        self._wrap(dedup, "dedup_clusters", "dedup.clusters")
        self._wrap(ann, "ann_candidates", "ann.candidates")
        self._wrap_parquet(DataFrameWriter)
        self._wrap_py4j(jg.GatewayClient)
        self.active = True

    def _wrap_parquet(self, writer_cls) -> None:
        original = writer_cls.parquet
        tracer = self

        def parquet(writer, path, *args, **kwargs):
            if not tracer.active:
                return original(writer, path, *args, **kwargs)
            kind = next((k for k in ("crawl_log", "frontier")
                         if f"/{k}/" in str(path)), "other")
            with tracer.span(f"sink.{kind}"):
                out = original(writer, path, *args, **kwargs)
            files = [f for f in glob.glob(os.path.join(str(path), "**", "part-*"),
                                          recursive=True)]
            with tracer._lock:
                tracer.sink_files += len(files)
                tracer.sink_bytes += sum(os.path.getsize(f) for f in files)
            return out

        writer_cls.parquet = parquet
        self._undo.append((writer_cls, "parquet", original))

    def _wrap_py4j(self, client_cls) -> None:
        original = client_cls.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            if not tracer.active:
                return original(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(client, *args, **kwargs)
            finally:
                with tracer._lock:
                    tracer.py4j_calls += 1
                    tracer.py4j_s += time.perf_counter() - t0

        client_cls.send_command = send_command
        self._undo.append((client_cls, "send_command", original))

    def pause(self) -> None:
        self.active = False

    def resume(self) -> None:
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    # ---- reduction ----

    def span_sum(self, name: str) -> float:
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def crawl_layers(self, iters, resume, steady, extra) -> dict:
        """Crawl metrics from the spans and round stats. The wall of a
        crawl call not covered by any other span is
        ``crawl.driver_other_s``."""
        k = max(len(iters), 1)
        stats = [s for _, calls in iters for c in calls for s in c["round_stats"]]
        n_rounds = max(len(stats), 1)
        build = [sp for sp in self.spans if sp[0] == "round.build"]
        crawl_calls = [sp for sp in self.spans if sp[0] == "crawl"]
        other = 0.0
        children = sorted(
            (s, e) for n, s, e, _, _ in self.spans if n != "crawl")
        for _, cs, ce, _, _ in crawl_calls:
            other += (ce - cs) - _covered(children, cs, ce)
        new = sum(s["new"] for s in stats)
        cand = extra["candidates"]
        out = {
            "crawl.rounds": _m(len(stats) / k, "count"),
            "crawl.frontier_in": _m(sum(s["frontier_in"] for s in stats) / k, "row"),
            "crawl.driver_other_s": _m(other / k, "s"),
            "crawl.resume_s": _m(resume, "s"),
            "crawl.steady_urls_per_s": _m(steady, "URL/s"),
            "round.build_py4j_calls": _m(sum(sp[4] for sp in build) / n_rounds, "call/round"),
            "robots.disallowed": _m(extra["disallowed"] / k, "URL"),
            "politeness.deferred": _m(sum(s["deferred"] for s in stats) / k, "row"),
            "extract.html_bytes": _m(extra["html_bytes"] / k, "B"),
            "extract.py_compute_s": _m(extra["py_compute_s"], "s"),
            "seen.candidates": _m(cand / k, "row"),
            "seen.new": _m(new / k, "row"),
            "seen.useful_ratio": _m(new / cand if cand else 0.0, "ratio"),
        }
        return out

    def finish(self, run) -> dict:
        """Span, counter and event-log metrics; call after Spark stopped
        (the event log is complete only then)."""
        k = max(run.iterations, 1)
        out = {}
        for metric, span in (
            ("round.build_s", "round.build"), ("robots.build_s", "robots.build"),
            ("politeness.build_s", "politeness.build"),
            ("seen.filter_build_s", "seen.filter_build"),
            ("seen.fold_build_s", "seen.fold_build"),
            ("sink.crawl_log_s", "sink.crawl_log"),
            ("sink.frontier_s", "sink.frontier"),
            ("dedup.clusters_s", "dedup.clusters"),
        ):
            out[metric] = _m(self.span_sum(span) / k, "s")
        out["sink.bytes_written"] = _m(self.sink_bytes / k, "B")
        out["sink.files_written"] = _m(self.sink_files / k, "count")
        out["fs.calls"] = _m(self._fs.calls / k, "count")
        out["fs.busy_s"] = _m(self._fs.busy_s / k, "s")
        out["fs.footer_reads"] = _m(self._fs.footer_reads / k, "count")
        out["py4j.calls"] = _m(self.py4j_calls / k, "count")
        out["py4j.busy_s"] = _m(self.py4j_s / k, "s")
        out["trace.spans"] = _m(len(self.spans), "count")
        ev = EventLog(self.event_dir, run.timed_windows, run.corpus_dir)
        out.update(ev.metrics(k, run.cores, run.rounds))
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [{"name": n, "start": s, "end": e, "parent": p, "py4j": c}
                 for n, s, e, p, c in self.spans], fh)


def per_layer(seconds: dict, names: dict) -> dict:
    """The reported per-layer metrics: every entry of ``names`` (name ->
    unit), in order. A time that only some workloads have (unit "s" and
    not in ``ALWAYS``) is reported as ``<layer>_share``: its seconds per
    timed iteration over ``trace.work_s``. A layer a workload does not
    run then reads as a share of 0, not as a constant time."""
    work = seconds["trace.work_s"]["value"] or 1.0
    out = {}
    for name, unit in names.items():
        value = seconds.get(name, _m(0.0, unit))["value"]
        if unit == "s" and name not in ALWAYS:
            out[share_name(name)] = _m(value / work, "ratio")
        else:
            out[name] = _m(value, unit)
    return out


def share_name(name: str) -> str:
    return name[:-2] + "_share" if name.endswith("_s") else name + "_share"


# times every traced run has; the rest are reported as shares
ALWAYS = {
    "setup.session_s", "setup.corpus_s", "setup.warm_s", "trace.work_s",
    "spark.task_s", "spark.cpu_s", "py4j.busy_s",
}


def _covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of sorted ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _num(v):
    """Accumulator updates: numbers, or numbers written as strings (the
    event log's form for SQL metrics)."""
    if isinstance(v, (int, float)):
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


class EventLog:
    """Spark event log reduced to the timed windows: per-task metrics,
    and the SQL metrics of the plan nodes each task ran."""

    def __init__(self, event_dir: str, windows, corpus: str | None):
        self.windows = [(a * 1000.0, b * 1000.0) for a, b in windows]
        self.corpus = corpus
        self.acc_node: dict[int, tuple[str, str, str]] = {}  # id -> (node, metric, type)
        self.scan_accs: set[int] = set()
        self.tasks: list[dict] = []
        self.jobs: list[dict] = []
        self.stage_desc: dict[int, str] = {}
        self.driver_acc: dict[int, float] = {}
        self.timed_exec: set[int] = set()
        for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"),
                                     recursive=True)):
            if not os.path.isfile(path):
                continue
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        self._event(json.loads(line))

    def _in_window(self, t_ms) -> bool:
        return any(a <= t_ms <= b for a, b in self.windows)

    def _plan(self, node) -> None:
        name = node.get("nodeName", "")
        is_corpus = (
            self.corpus is not None and name.startswith("Scan")
            and self.corpus in json.dumps(node.get("metadata", {}))
        )
        for m in node.get("metrics", []):
            aid = m["accumulatorId"]
            self.acc_node[aid] = (name, m["name"], m.get("metricType", "sum"))
            if is_corpus:
                self.scan_accs.add(aid)
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, ev) -> None:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            self._plan(ev["sparkPlanInfo"])
            if self._in_window(ev.get("time", 0)):
                self.timed_exec.add(ev["executionId"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(ev["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            if ev["executionId"] in self.timed_exec:
                for aid, val in ev["accumUpdates"]:
                    self.driver_acc[aid] = self.driver_acc.get(aid, 0) + val
        elif kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            for sid in ev.get("Stage IDs", []):
                self.stage_desc[sid] = desc
            if self._in_window(ev.get("Submission Time", 0)):
                self.jobs.append(ev)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if not self._in_window(info.get("Launch Time", 0)):
                return
            tm = ev.get("Task Metrics") or {}
            self.tasks.append({
                "stage": ev.get("Stage ID"),
                "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "bytes_in": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                "accs": {
                    a["ID"]: _num(a.get("Update"))
                    for a in info.get("Accumulables", [])
                    if _num(a.get("Update")) is not None
                },
            })

    def _sql(self, node: str, metric: str) -> float:
        """Sum of a node's SQL metric over timed tasks, in seconds for
        timing metrics."""
        total = 0.0
        for t in self.tasks:
            for aid, val in t["accs"].items():
                n, mname, mtype = self.acc_node.get(aid, ("", "", ""))
                if n == node and mname == metric:
                    total += val / (1e9 if mtype == "nsTiming" else
                                    1e3 if mtype == "timing" else 1)
        return total

    def _tasks_with(self, pred) -> list[dict]:
        return [
            t for t in self.tasks
            if any(pred(aid, self.acc_node.get(aid, ("", "", ""))[0])
                   for aid in t["accs"])
        ]

    def metrics(self, k: int, cores: int, rounds: int) -> dict:
        tasks = self.tasks
        win = sum(b - a for a, b in self.windows) or 1.0
        skews = []
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["dur_ms"])
        for durs in by_stage.values():
            if len(durs) >= 2 and statistics.fmean(durs) > 0:
                skews.append(max(durs) / statistics.fmean(durs))
        scan_tasks = self._tasks_with(lambda aid, n: aid in self.scan_accs)
        cogroup = self._tasks_with(lambda aid, n: n == "FlatMapCoGroupsInPandas")
        window = self._tasks_with(lambda aid, n: n == "Window")
        frontier = [t for t in tasks
                    if self.stage_desc.get(t["stage"], "").endswith(": frontier")]
        files_read = sum(
            v for aid, v in self.driver_acc.items()
            if aid in self.scan_accs and self.acc_node[aid][1] == "number of files read")
        scan_bytes = sum(
            v for aid, v in self.driver_acc.items()
            if aid in self.scan_accs and self.acc_node[aid][1] == "size of files read")
        py = "ArrowEvalPython"
        return {
            "spark.jobs_per_round": _m(len(self.jobs) / rounds if rounds else 0.0, "job/round"),
            "spark.tasks": _m(len(tasks) / k, "count"),
            "spark.task_s": _m(sum(t["run_ms"] for t in tasks) / 1e3 / k, "s"),
            "spark.cpu_s": _m(sum(t["cpu_ns"] for t in tasks) / 1e9 / k, "s"),
            "spark.gc_s": _m(sum(t["gc_ms"] for t in tasks) / 1e3 / k, "s"),
            "spark.shuffle_write_bytes": _m(sum(t["shuffle_w"] for t in tasks) / k, "B"),
            "spark.spill_bytes": _m(sum(t["spill"] for t in tasks) / k, "B"),
            "spark.task_skew": _m(statistics.median(skews) if skews else 0.0, "ratio"),
            "spark.core_util": _m(sum(t["dur_ms"] for t in tasks) / (cores * win), "ratio"),
            "fetch.scan_bytes": _m(scan_bytes / k, "B"),
            "fetch.files_read": _m(files_read / k, "count"),
            "fetch.task_s": _m(sum(t["run_ms"] for t in scan_tasks) / 1e3 / k, "s"),
            "politeness.window_task_s": _m(sum(t["run_ms"] for t in window) / 1e3 / k, "s"),
            "seen.cogroup_task_s": _m(sum(t["run_ms"] for t in cogroup) / 1e3 / k, "s"),
            "seen.shuffle_bytes": _m(sum(t["shuffle_w"] for t in frontier) / k, "B"),
            "extract.pages": _m(self._sql(py, "number of output rows") / k, "row"),
            "extract.boot_s": _m(self._sql(py, "time to start Python workers") / k, "s"),
            "extract.init_s": _m(self._sql(py, "time to initialize Python workers") / k, "s"),
            "extract.python_s": _m(self._sql(py, "time to run Python workers") / k, "s"),
            "extract.data_sent_bytes": _m(self._sql(py, "data sent to Python workers") / k, "B"),
        }
