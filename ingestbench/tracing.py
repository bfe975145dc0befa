"""Traced-run support: spans around the program's public methods, and
Spark's own job/task counters attributed to those spans.

Only the traced run (``--trace 1``) uses this module. The untraced run
installs no wrapper and enables no event log.

A span is one call into a layer: name, start, end, parent span and the
micro-batch id it belongs to. Spans live in memory and are written to
the run record when the run ends. Spark jobs and tasks are read back
from the event log after the session stops and attributed to the
innermost span whose wall-clock interval contains the job's submission
(or the task's launch) time; the benchmark drives one micro-batch at a
time from one thread, so time windows identify the caller.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = None
        self.table = None
        self._settled = 0
        self._files = 0

    def open(self, name: str, **info) -> int:
        i = len(self.spans)
        self.spans.append({
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "t0": time.perf_counter(),
            "w0": time.time(),
            "info": info,
        })
        self._stack.append(i)
        return i

    def close(self, i: int, **info) -> None:
        s = self.spans[i]
        s["t1"] = time.perf_counter()
        s["w1"] = time.time()
        s["info"].update(info)
        self._stack.pop()

    def wrap(self, name: str, fn, on_result=None, on_call=None):
        """Return ``fn`` recording one span per call. ``on_result``
        maps the return value to span info; ``on_call`` maps the call
        arguments to span info before the call runs."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = self.open(name, **(on_call(*args, **kwargs) if on_call else {}))
            err = None
            try:
                res = fn(*args, **kwargs)
                return res
            except BaseException as e:
                err = type(e).__name__
                raise
            finally:
                info = {"error": err} if err else {}
                if err is None and on_result is not None:
                    info.update(on_result(res))
                self.close(i, **info)

        return traced

    def settle(self) -> None:
        """Called between micro-batches, outside every span: adds to the
        merge and compaction spans closed since the last call the bytes
        their commits wrote and, to merges, the table's data file count
        before the merge (the count at the previous call: maintenance
        runs after the merge within a batch, and nothing else commits
        between batches)."""
        files_before = self._files
        for s in self.spans[self._settled:]:
            if s["name"] == "table.merge":
                s["info"]["files_before"] = files_before
            if s["name"] in ("table.merge", "table.compact") and "t1" in s:
                s["info"]["bytes_written"] = _commit_bytes(
                    self.table.path, None if s["info"].get("skipped") else s["info"].get("version")
                )
        self._settled = len(self.spans)
        self._files = len(self.table.manifest()["files"])


def _commit_bytes(table_path: str, version) -> int:
    """Bytes of the data files a commit wrote (its ``data/commit-<v>-*``
    directory; a losing attempt's directory is removed by the table)."""
    if not version:
        return 0
    total = 0
    for d in glob.glob(os.path.join(table_path, "data", f"commit-{int(version):012d}-*")):
        for root, _dirs, files in os.walk(d):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if f.endswith(".parquet")
            )
    return total


def install(tracer: Tracer, pipe) -> None:
    """Wrap the public methods of one pipeline instance (instance
    attributes shadow the class methods, so the pipeline's own calls
    through ``self.table`` / ``self.dead_letter`` / ``self.metrics``
    go through the wrappers)."""
    t, dlq = pipe.table, pipe.dead_letter

    def batch_call(df, batch_id, *a, **k):
        tracer.trace_id = int(batch_id)
        return {}

    def merge_result(r):
        keep = ("merge_path", "n_upserts", "files_rewritten", "files_added",
                "commit_attempts", "version", "skipped")
        return {k: r.get(k) for k in keep}

    def compact_result(r):
        return {"skipped": r.get("skipped"), "version": r.get("version")}

    pipe.apply_batch = tracer.wrap("pipeline.apply_batch", pipe.apply_batch, on_call=batch_call)
    t.merge = tracer.wrap("table.merge", t.merge, on_result=merge_result)
    t.footer_row_estimate = tracer.wrap("table.footer_row_estimate", t.footer_row_estimate)
    t.compact = tracer.wrap("table.compact", t.compact, on_result=compact_result)
    t.expire_snapshots = tracer.wrap("table.expire_snapshots", t.expire_snapshots)
    t.read = tracer.wrap("table.read.plan", t.read)
    if dlq is not None:
        dlq.append = tracer.wrap("dlq.append", dlq.append)
        dlq.compact = tracer.wrap("dlq.compact", dlq.compact)
        dlq.expire_snapshots = tracer.wrap("dlq.expire_snapshots", dlq.expire_snapshots)
    if pipe.metrics is not None:
        pipe.metrics.record_batch = tracer.wrap("metrics.record_batch", pipe.metrics.record_batch)
    tracer.table = t
    tracer.settle()


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the Spark event log files under ``log_dir``."""
    jobs, tasks = [], []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    jobs.append({"id": e["Job ID"], "submitted_ms": e["Submission Time"]})
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "launch_ms": e["Task Info"]["Launch Time"],
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def attribute(spans: list[dict], jobs: list[dict], tasks: list[dict]) -> None:
    """Add ``jobs``/``tasks``/``gc_ms``/``spill_bytes``/``shuffle_bytes``
    counts to each span: a job or task counts toward the innermost span
    containing its time, and each span's totals include its
    descendants'."""
    closed = [s for s in spans if "w1" in s]
    order = sorted(range(len(closed)), key=lambda i: closed[i]["w0"])
    for s in closed:
        s.update(jobs=0, tasks=0, gc_ms=0, spill_bytes=0, shuffle_bytes=0)

    def innermost(ms):
        t = ms / 1000.0
        best = None
        for i in order:
            s = closed[i]
            if s["w0"] > t + 0.001:
                break
            if s["w0"] - 0.001 <= t <= s["w1"] + 0.001 and (
                best is None or s["w1"] - s["w0"] < best["w1"] - best["w0"]
            ):
                best = s
        return best

    own: dict[int, dict] = {}

    def add(s, **kv):
        o = own.setdefault(id(s), {"s": s})
        for k, v in kv.items():
            o[k] = o.get(k, 0) + v

    for j in jobs:
        s = innermost(j["submitted_ms"])
        if s is not None:
            add(s, jobs=1)
    for tk in tasks:
        s = innermost(tk["launch_ms"])
        if s is not None:
            add(s, tasks=1, gc_ms=tk["gc_ms"], spill_bytes=tk["spill_bytes"],
                shuffle_bytes=tk["shuffle_write_bytes"])
    for o in own.values():
        s = o["s"]
        while s is not None:
            for k in ("jobs", "tasks", "gc_ms", "spill_bytes", "shuffle_bytes"):
                s[k] += o.get(k, 0)
            s = spans[s["parent"]] if s["parent"] is not None else None


# ------------------------------------------------------------- metrics


def _dur(s) -> float:
    return s["t1"] - s["t0"]


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], applied_events: int) -> dict:
    """Per-layer metrics (name → value) from attributed spans."""
    done = [s for s in spans if "t1" in s]
    by = lambda n: [s for s in done if s["name"] == n]  # noqa: E731
    batches, merges = by("pipeline.apply_batch"), by("table.merge")
    compacts, reads = by("table.compact"), by("table.read")
    kids: dict[int, float] = {}
    for s in done:
        if s["parent"] is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + _dur(s)
    idx = {id(s): i for i, s in enumerate(spans)}
    self_t = [_dur(s) - kids.get(idx[id(s)], 0.0) for s in batches]
    ev = max(applied_events, 1)
    paths = [m["info"].get("merge_path") for m in merges]
    out = {
        "pipeline.apply_batch_p50_s": _p50([_dur(s) for s in batches]),
        "pipeline.self_p50_s": _p50(self_t),
        "pipeline.self_sum_s": float(sum(self_t)),
        "pipeline.jobs_per_batch_p50": _p50([s["jobs"] for s in batches]),
        "table.merge_p50_s": _p50([_dur(s) for s in merges]),
        "table.merge_sum_s": float(sum(_dur(s) for s in merges)),
        "table.merge_jobs_p50": _p50([s["jobs"] for s in merges]),
        "table.merge_tasks_p50": _p50([s["tasks"] for s in merges]),
        "table.files_rewritten_p50": _p50(
            [m["info"].get("files_rewritten") or 0 for m in merges]
        ),
        "table.files_at_merge_p50": _p50([m["info"].get("files_before") or 0 for m in merges]),
        "table.files_added_p50": _p50([m["info"].get("files_added") or 0 for m in merges]),
        "table.bytes_written_per_event": sum(
            m["info"].get("bytes_written", 0) for m in merges
        ) / ev,
        "table.merge_shuffle_bytes_per_event": sum(m["shuffle_bytes"] for m in merges) / ev,
        "table.merge_spill_bytes": float(sum(m["spill_bytes"] for m in merges)),
        "table.merge_gc_s": sum(m["gc_ms"] for m in merges) / 1000.0,
        "table.footer_estimate_sum_s": float(
            sum(_dur(s) for s in by("table.footer_row_estimate"))
        ),
        "table.commit_attempts": float(
            sum(m["info"].get("commit_attempts") or 0 for m in merges)
        ),
        "table.compact_sum_s": float(sum(_dur(s) for s in compacts)),
        "table.compact_jobs": float(sum(s["jobs"] for s in compacts)),
        "table.compact_bytes_rewritten": float(
            sum(s["info"].get("bytes_written", 0) for s in compacts)
        ),
        "table.expire_sum_s": float(sum(_dur(s) for s in by("table.expire_snapshots"))),
        "table.read_p50_s": _p50([_dur(s) for s in reads]),
        "table.read_jobs_p50": _p50([s["jobs"] for s in reads]),
        "table.read_shuffle_bytes_p50": _p50([s["shuffle_bytes"] for s in reads]),
        "table.delta_files_at_read_p50": _p50([s["info"]["delta_files"] for s in reads]),
        "dlq.append_sum_s": float(sum(_dur(s) for s in by("dlq.append"))),
        "metrics.record_batch_sum_s": float(
            sum(_dur(s) for s in by("metrics.record_batch"))
        ),
    }
    for p in ("union-agg", "broadcast-cow", "delta-append"):
        out[f"table.merge_path.{p}"] = float(paths.count(p))
    return out
