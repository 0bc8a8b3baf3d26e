"""Spans around each layer's public functions, installed from outside the
package for the traced run.

``Tracer.install()`` replaces the functions named in ``LAYER_POINTS`` with
wrappers that record a span (name, start, end, parent span, run id) and
set a Spark job group for the duration of the call, so every Spark job
submitted inside the call is attributed to that span.  Spans stay in
memory; ``finish()`` reads the per-group job, stage, task, shuffle and GC
counters from Spark's status tracker and status store and ``write()``
dumps everything as JSON lines when the run ends.

Limit: most layer functions only build lazy DataFrames.  The jobs that
execute those plans are submitted by the crawler's own actions (the wave's
``count``/``collect`` calls and the catalog writes), so their time lands
in ``plans.crawler`` self time or in the catalog commit that runs the plan,
not in the layer that built the plan.  Spans inside the program would be
needed to split it further.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import time
import uuid

# (module, class or None, attribute, span name). Functions imported by name
# into another module are patched where the caller looks them up.
LAYER_POINTS = [
    ("polipus_spark.session", None, "build_session", "session.build"),
    ("polipus_spark.plans.crawler", "PolipusCrawler", "takeover", "crawler.takeover"),
    ("polipus_spark.plans.crawler", "PolipusCrawler", "process_wave", "crawler.wave"),
    ("polipus_spark.plans.crawler", "PolipusCrawler", "_compact", "crawler.compact"),
    ("polipus_spark.operators.frontier", "Frontier", "push", "frontier.push"),
    ("polipus_spark.operators.frontier", "Frontier", "pop", "frontier.pop"),
    ("polipus_spark.operators.frontier", "Frontier", "compact", "frontier.compact"),
    ("polipus_spark.operators.tracker", "ExactTracker", "probe", "tracker.probe"),
    ("polipus_spark.operators.tracker", "ExactTracker", "mark_seen", "tracker.mark"),
    ("polipus_spark.operators.tracker", "BloomTracker", "probe", "tracker.probe"),
    ("polipus_spark.operators.tracker", "BloomTracker", "mark_seen", "tracker.mark"),
    ("polipus_spark.operators.frontier", None, "exact_top_k", "topk.select"),
    ("polipus_spark.operators.frontier", None, "with_global_seq", "seq.assign"),
    ("polipus_spark.plans.crawler", None, "fetch_wave", "fetch.call"),
    ("polipus_spark.plans.crawler", None, "extract_links", "links.call"),
    ("polipus_spark.plans.crawler", None, "robots_rules_df", "robots.call"),
    ("polipus_spark.plans.crawler", None, "crawl_delays_df", "robots.call"),
    ("polipus_spark.functions.robots", None, "filter_robots_allowed", "robots.call"),
    ("polipus_spark.catalog", "SnapshotTable", "append", "catalog.commit"),
    ("polipus_spark.catalog", "SnapshotTable", "overwrite", "catalog.commit"),
    ("polipus_spark.catalog", "SnapshotTable", "read", "catalog.read"),
    ("polipus_spark.catalog", "SnapshotTable", "read_latest_by", "catalog.read"),
]


# name, unit — the traced run reports every one of these
PER_LAYER = [
    ("crawler.wave_s", "s"), ("crawler.self_s", "s"),
    ("crawler.jobs_per_wave", "count"), ("crawler.stages_per_wave", "count"),
    ("crawler.useful_ratio", "ratio"), ("crawler.compact_s", "s"),
    ("crawler.resume_s", "s"),
    ("frontier.push_s", "s"), ("frontier.push_rows", "count"),
    ("frontier.pop_s", "s"), ("frontier.pop_rows", "count"),
    ("frontier.compact_s", "s"), ("frontier.backlog_max", "count"),
    ("tracker.probe_s", "s"), ("tracker.probe_rows", "count"),
    ("tracker.hit_ratio", "ratio"), ("tracker.mark_s", "s"),
    ("tracker.bloom_fp", "count"),
    ("topk.select_s", "s"), ("seq.assign_s", "s"),
    ("fetch.call_s", "s"), ("fetch.rows_in", "count"),
    ("links.call_s", "s"), ("links.per_page", "count"),
    ("robots.call_s", "s"),
    ("catalog.commits", "count"), ("catalog.commit_s", "s"),
    ("catalog.bytes_written", "bytes"), ("catalog.files_written", "count"),
    ("catalog.read_s", "s"),
    ("session.build_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.gc_s", "s"),
    ("trace.wave_p50_s", "s"), ("trace.untraced_wave_p50_s", "s"),
    ("trace.overhead_s", "s"), ("trace.spans", "count"),
    ("failed_ratio", "ratio"),
]


def _snapshot_dir_stats(table, version) -> dict:
    from procstat import dir_stats

    if not isinstance(version, int):
        return {}
    size, files = dir_stats(os.path.join(table.path, f"snap-{version:06d}"))
    return {"bytes": size, "files": files}


def _span_info(name: str, args: tuple, kwargs: dict, result) -> dict:
    """Counts read off a call's arguments and return value — never a
    Spark action of its own."""
    if name == "frontier.push" and isinstance(result, tuple):
        return {"rows": int(result[0])}
    if name == "fetch.call" and kwargs.get("wave_rows") is not None:
        return {"rows_in": int(kwargs["wave_rows"])}
    if name == "crawler.wave" and isinstance(result, dict):
        return {k: result.get(k, 0) for k in ("wave", "scheduled", "fetched", "stored")}
    if name == "crawler.takeover":
        return {"resume": bool(kwargs.get("resume", False))}
    if name == "catalog.commit":
        return _snapshot_dir_stats(args[0], result)
    return {}


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.sc = None

    # ------------------------------------------------------------ spans
    def _group(self, span: dict | None) -> str | None:
        return None if span is None else f"perfbench-{self.run_id}-{span['id']}"

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span), span["name"])

    def open(self, name: str) -> dict:
        span = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(), "wall_start": time.time(),
            "end": None, "info": {},
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # ---------------------------------------------------------- install
    def _wrap(self, orig, name: str):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                tracer.close(span)
                span["info"] = _span_info(name, args, kwargs, result)

        return wrapper

    def install(self) -> None:
        for mod_name, cls_name, attr, name in LAYER_POINTS:
            owner = importlib.import_module(mod_name)
            if cls_name is not None:
                owner = getattr(owner, cls_name)
            orig = owner.__dict__[attr] if cls_name else getattr(owner, attr)
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------- Spark counters
    def finish(self) -> None:
        """Attach each span's Spark jobs (by job group) with their stage
        counters, read from the status tracker and the status store."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for span in self.spans:
            jobs = []
            for job_id in st.getJobIdsForGroup(self._group(span)):
                info = st.getJobInfo(job_id)
                if info is None:
                    continue
                job = {"id": job_id, "stages": 0, "tasks": 0, "failed_tasks": 0,
                       "shuffle_write_bytes": 0, "gc_ms": 0, "status": info.status}
                for stage_id in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Exception:  # noqa: BLE001 — evicted from the store
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += sd.numCompleteTasks()
                    job["failed_tasks"] += sd.numFailedTasks()
                    job["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    job["gc_ms"] += sd.jvmGcTime()
                jobs.append(job)
            span["jobs"] = jobs

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


# ------------------------------------------------------ per-layer metrics
def _in_window(span: dict, t0: float, t1: float) -> bool:
    return span["end"] is not None and span["start"] >= t0 and span["end"] <= t1


def _outermost(spans: list[dict], by_id: dict, names: set[str]) -> list[dict]:
    """Spans named in ``names`` that have no ancestor named in ``names``."""
    out = []
    for s in spans:
        if s["name"] not in names:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] not in names:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _subtree_jobs(span: dict, children: dict) -> list[dict]:
    jobs, todo = [], [span]
    while todo:
        s = todo.pop()
        jobs.extend(s.get("jobs", []))
        todo.extend(children.get(s["id"], []))
    return jobs


def _self_time(span: dict, children: dict) -> float:
    """Duration minus the part of it covered by child spans."""
    iv = sorted((c["start"], c["end"]) for c in children.get(span["id"], [])
                if c["end"] is not None)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def layer_metrics(tracer: Tracer, t0: float, t1: float, n_waves: int,
                  counts: dict) -> dict:
    """Per-layer metrics over the timed window [t0, t1].  Layer times
    (``*_s`` unless noted) are seconds spent in the layer's outermost
    spans per timed wave; ``counts`` carries the workload's own counts
    (popped, probed, hits, pages, links, backlog, Bloom false positives)."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    timed = [s for s in spans if _in_window(s, t0, t1)]
    waves = max(1, n_waves)

    def per_wave(*names: str) -> float:
        outer = _outermost(timed, by_id, set(names))
        return sum(s["end"] - s["start"] for s in outer) / waves

    crawl_waves = [s for s in timed if s["name"] == "crawler.wave"]
    wave_jobs = [_subtree_jobs(s, children) for s in crawl_waves]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731

    resume = [s for s in spans if s["name"] == "crawler.takeover"
              and s["info"].get("resume") and s["start"] >= t0]
    resume_s = 0.0
    for s in resume:
        first = min((c["start"] for c in children.get(s["id"], [])
                     if c["name"] == "crawler.wave"), default=s["end"])
        resume_s += first - s["start"]

    commits = [s for s in timed if s["name"] == "catalog.commit"]
    push = [s for s in timed if s["name"] == "frontier.push"]
    fetch = [s for s in timed if s["name"] == "fetch.call"]
    all_jobs = [j for s in timed for j in s.get("jobs", [])]
    session = [s for s in spans if s["name"] == "session.build"]

    probed = counts.get("probed", 0)
    return {
        "crawler.wave_s": med([s["end"] - s["start"] for s in crawl_waves]),
        "crawler.self_s": med([_self_time(s, children) for s in crawl_waves]),
        "crawler.jobs_per_wave": med([len(j) for j in wave_jobs]),
        "crawler.stages_per_wave": med([sum(x["stages"] for x in j) for j in wave_jobs]),
        "crawler.useful_ratio": counts.get("fetched", 0) / max(1, counts.get("popped", 0)),
        "crawler.compact_s": per_wave("crawler.compact"),
        "crawler.resume_s": resume_s,
        "frontier.push_s": per_wave("frontier.push"),
        "frontier.push_rows": sum(s["info"].get("rows", 0) for s in push),
        "frontier.pop_s": per_wave("frontier.pop"),
        "frontier.pop_rows": counts.get("popped", 0),
        "frontier.compact_s": per_wave("frontier.compact"),
        "frontier.backlog_max": counts.get("backlog_max", 0),
        "tracker.probe_s": per_wave("tracker.probe"),
        "tracker.probe_rows": probed,
        "tracker.hit_ratio": counts.get("hits", 0) / max(1, probed),
        "tracker.mark_s": per_wave("tracker.mark"),
        "tracker.bloom_fp": counts.get("bloom_fp", 0),
        "topk.select_s": per_wave("topk.select"),
        "seq.assign_s": per_wave("seq.assign"),
        "fetch.call_s": per_wave("fetch.call"),
        "fetch.rows_in": sum(s["info"].get("rows_in", 0) for s in fetch),
        "links.call_s": per_wave("links.call"),
        "links.per_page": counts.get("links", 0) / max(1, counts.get("expanded", 0)),
        "robots.call_s": per_wave("robots.call"),
        "catalog.commits": len(commits),
        "catalog.commit_s": per_wave("catalog.commit"),
        "catalog.bytes_written": sum(s["info"].get("bytes", 0) for s in commits),
        "catalog.files_written": sum(s["info"].get("files", 0) for s in commits),
        "catalog.read_s": per_wave("catalog.read"),
        "session.build_s": sum(s["end"] - s["start"] for s in session),
        "spark.jobs": len(all_jobs),
        "spark.tasks": sum(j["tasks"] for j in all_jobs),
        "spark.failed_tasks": sum(j["failed_tasks"] for j in all_jobs),
        "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in all_jobs),
        "spark.gc_s": sum(j["gc_ms"] for j in all_jobs) / 1000.0,
        "trace.spans": len(spans),
    }
