"""The two workloads and the closed-loop harness that runs them.

Every workload drains a pre-staged binlog backlog with an
``availableNow`` trigger and a fixed files-per-trigger, so the batch
boundaries are the same on every run. The benchmark's ``foreachBatch``
callback hands each micro-batch to ``CdcPipeline.apply_batch`` (exactly
what ``CdcPipeline.start`` does) and Structured Streaming plans the next
batch only after the callback returns: a closed loop with one client.
"""

from __future__ import annotations

import json
import os
import time

#: Workload definitions. Sizes are chosen so one run, set-up included,
#: fits the benchmark's time budget on a 4-core host (see README.md).
#: ``nominal_batch_s`` sizes the backlog: --seconds / nominal_batch_s
#: micro-batches, one segment file per trigger. ``maintenance_every``
#: counts table versions and a compaction adds one, so a maintenance
#: pass falls on every (maintenance_every - 1)th batch: the windows at
#: --seconds 24 (6 batches on trickle_cow, 8 on trickle_mor_reads) hold
#: two whole cycles, whatever batch a cycle starts on.
WORKLOADS: dict[str, dict] = {
    # per-batch fixed costs: small segments of mostly-new conversations
    # (so key-range file pruning engages) plus a fixed handful of late
    # updates/deletes to preloaded ones, an invalid row every other
    # segment, and two compact+expire cycles inside the window
    "trickle_cow": {
        "keys": "new",
        "strategy": "copy-on-write",
        "n_shards": 8,
        "n_buckets": 16,
        "preload_convs": 3_000,
        "preload_files": 4,
        "convs_per_segment": 250,
        "late_per_segment": 4,
        "invalid_every": 2,
        "warm_segments": 1,
        "nominal_batch_s": 4.0,
        "maintenance_every": 4,
        "keep_last": 8,
        "post_reads": 5,
    },
    # merge-on-read writes with a snapshot read after every commit:
    # uniform keys from the tail of the arrival order (updates/deletes
    # over the whole table); delta files pile up for three batches
    # until a maintenance pass folds them. ``preload_convs`` is what
    # synth generates here; the stream is cut from its tail and the
    # rest (~31k events at --seconds 24) is the preload
    "trickle_mor_reads": {
        "keys": "tail",
        "strategy": "merge-on-read",
        "n_shards": 8,
        "n_buckets": 16,
        "preload_convs": 4_500,
        "preload_files": 4,
        "seg_rows": 3_000,
        "warm_segments": 1,
        "nominal_batch_s": 3.0,
        "maintenance_every": 5,
        "keep_last": 8,
        "read_every_batch": True,
    },
}

#: table preparations per run; setup_s takes their median
SETUP_REPEATS = 2


def read_action(df):
    """The benchmark's full-snapshot aggregate read: every live row and
    column is resolved; the result is small and exact."""
    from pyspark.sql import functions as F

    rows = (
        df.groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("text_len"),
            F.sum("turn_idx").alias("turns"),
            F.count("tool").alias("tools"),
        )
        .collect()
    )
    return {
        r["role"]: [int(r["n"]), int(r["text_len"] or 0), int(r["turns"] or 0), int(r["tools"])]
        for r in rows
    }


class Run:
    """State of one benchmark run: paths, the Spark session, and the
    pipelines built during set-up."""

    def __init__(self, name: str, inputs: str, work: str, meta: dict):
        self.w = WORKLOADS[name]
        self.inputs = inputs
        self.work = work
        self.meta = meta
        self.spark = None

    # ---------------------------------------------------------- config

    def config(self, slot: str, binlog: str, source_id: str):
        from nifi_processors_spark.config import EngineConfig

        w = self.w
        return EngineConfig(
            binlog_dir=binlog,
            table_path=os.path.join(self.work, f"table-{slot}"),
            dead_letter_path=os.path.join(self.work, f"dlq-{slot}"),
            checkpoint_dir=os.path.join(self.work, f"ckpt-{slot}-{source_id}"),
            source_id=source_id,
            n_shards=w["n_shards"],
            n_buckets=w["n_buckets"],
            max_files_per_trigger=1,
            merge_strategy=w["strategy"],
            maintenance_every_n_batches=w["maintenance_every"],
            maintenance_keep_last=w["keep_last"],
            metrics_path=os.path.join(self.work, f"metrics-{slot}-{source_id}.jsonl"),
        )

    # ---------------------------------------------------------- set-up

    def prepare_table(self, slot: str):
        """Create the table and bulk-merge the preload into it; returns
        the pipeline the measured stream will drive."""
        from nifi_processors_spark.schema import CHANGE_EVENTS_SCHEMA
        from nifi_processors_spark.streaming.pipeline import CdcPipeline

        pipe = CdcPipeline(self.spark, self.config(slot, os.path.join(self.inputs, "stream"), "cdc"))
        pre = [os.path.join(self.inputs, "preload", f) for f in self.meta["preload_files"]]
        pipe.table.merge(
            self.spark.read.schema(CHANGE_EVENTS_SCHEMA).parquet(*pre),
            source_id="preload", batch_id=0,
        )
        return pipe

    def warm_up(self, slot: str, pipe) -> None:
        """One warm-up micro-batch through ``CdcPipeline.run_once``, a
        compaction and one snapshot read on the prepared table."""
        from nifi_processors_spark.streaming.pipeline import CdcPipeline

        warm = CdcPipeline(self.spark, self.config(slot, os.path.join(self.inputs, "warm"), "warm"))
        warm.run_once(timeout_s=120)
        # one base file per bucket before the window
        pipe.table.compact()
        read_action(pipe.table.read())

    # ----------------------------------------------------------- drain

    def drain(self, pipe, tracer=None, timeout_s: float = 90.0) -> dict:
        """Drain the stream backlog through ``pipe`` in a closed loop.
        Returns per-batch handoff/return times, read walls and results,
        and the error that stopped the stream, if any."""
        from pyspark.errors import StreamingQueryException

        from nifi_processors_spark.schema import CHANGE_EVENTS_SCHEMA
        from nifi_processors_spark.sources.binlog import read_binlog_stream

        cfg = pipe.config
        rec = {"batch_ids": [], "handoff": [], "ret": [], "end": [],
               "read_s": [], "read_results": [], "error": None}
        read_each = bool(self.w.get("read_every_batch"))

        def on_batch(df, batch_id):
            rec["batch_ids"].append(int(batch_id))
            rec["handoff"].append(time.perf_counter())
            pipe.apply_batch(df, batch_id, from_stream=True)
            rec["ret"].append(time.perf_counter())
            if read_each:
                rec["read_results"].append(self.timed_read(pipe, rec, tracer))
            if tracer:
                tracer.settle()
            rec["end"].append(time.perf_counter())

        stream = read_binlog_stream(self.spark, cfg, CHANGE_EVENTS_SCHEMA)
        q = (
            stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", cfg.checkpoint_dir)
            .queryName(f"bench-{cfg.source_id}")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(timeout_s):
                rec["error"] = f"timeout after {timeout_s}s"
        except StreamingQueryException as e:
            rec["error"] = str(e).splitlines()[0][:300]
        finally:
            if q.isActive:
                q.stop()
            if pipe.metrics is not None:
                pipe.metrics.close()
        return rec

    def timed_read(self, pipe, rec: dict, tracer=None) -> dict:
        if tracer:
            # counted before the timed region opens
            delta = sum(1 for f in pipe.table.manifest()["files"] if f.get("delta"))
        t0 = time.perf_counter()
        span = tracer.open("table.read", delta_files=delta) if tracer else None
        res = read_action(pipe.table.read())
        if tracer:
            tracer.close(span)
        rec["read_s"].append(time.perf_counter() - t0)
        return res

    def batch_files(self, pipe) -> dict[int, list[str]]:
        """Files of each committed micro-batch, from the file source's
        own commit log in the checkpoint."""
        src = os.path.join(pipe.config.checkpoint_dir, "sources", "0")
        out: dict[int, set[str]] = {}
        if not os.path.isdir(src):
            return out
        for name in os.listdir(src):
            if name.startswith("."):
                continue
            with open(os.path.join(src, name)) as f:
                if f.readline().strip() != "v1":
                    continue
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        bid = int(e.get("batchId", name.split(".")[0]))
                        out.setdefault(bid, set()).add(os.path.basename(e["path"]))
        return {k: sorted(v) for k, v in out.items()}

