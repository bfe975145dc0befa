"""Seeded input generation for the ingest benchmark, with an on-disk cache.

Everything here is the benchmark's own work and runs before, and
outside, every timed region: synth generation, segment files, the LWW
oracle and the per-batch read expectations. It runs in a child process
(``python3 ingestbench/inputs.py <json-args>``) so its pandas working
set never counts toward the measured process's peak memory.

Output layout of one cache entry (keyed on workload, seed, size and
``synth.GEN_VERSION``)::

    preload/seg-*.parquet   rows bulk-merged into the table at set-up
    warm/seg-*.parquet      warm-up micro-batches (set-up)
    stream/seg-*.parquet    the measured backlog, one file name per slot
    expected_final.parquet  synth.oracle_apply over every applied valid event
    expected.json           per-segment counts, injected rows, read expectations
    .complete               written last; an entry without it is rebuilt
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: cache entries kept in the checkout (oldest evicted first)
CACHE_KEEP = 24

#: stream segment files get strictly increasing mtimes this far apart:
#: Spark's file source admits files oldest-first, so the order (and the
#: batch boundaries under maxFilesPerTrigger) is fixed on every run
MTIME_STEP_S = 1


def _arrow_schema():
    import pyarrow as pa

    # explicit schema: an all-null `tool` column must stay a string
    # column instead of being inferred as INT32
    return pa.schema(
        [
            ("op", pa.string()),
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
            ("seq", pa.int64()),
            ("shard", pa.int32()),
            ("arrival_ts", pa.timestamp("us")),
        ]
    )


EVENT_COLS = [
    "op", "conv_id", "turn_idx", "role", "text", "tool",
    "ts", "seq", "shard", "arrival_ts",
]


def _write_segments(frames, out_dir: str, t0: float) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    schema = _arrow_schema()
    names = []
    for i, df in enumerate(frames):
        name = f"seg-{i:05d}.parquet"
        path = os.path.join(out_dir, name)
        cols = df[EVENT_COLS].copy()
        for c in ("ts", "arrival_ts"):
            cols[c] = cols[c].astype("datetime64[us]")
        tbl = pa.Table.from_pandas(cols, schema=schema, preserve_index=False)
        pq.write_table(tbl, path)
        mt = t0 + i * MTIME_STEP_S
        os.utime(path, (mt, mt))
        names.append(name)
    return names


def _inject_invalid(seg):
    """Append one copy of the segment's first row with a null conv_id:
    the pipeline must route it to the dead-letter table."""
    import pandas as pd

    bad = seg.iloc[[0]].copy()
    bad["conv_id"] = None
    return pd.concat([seg, bad], ignore_index=True), bad


def _split(df, n: int):
    import numpy as np

    return [df.iloc[idx] for idx in np.array_split(np.arange(len(df)), n)]


def read_aggregate_of(table) -> dict:
    """Expected result of the benchmark's snapshot read for a final
    table frame (columns of synth.oracle_apply)."""
    out = {}
    for role, g in table.groupby("role"):
        out[str(role)] = [
            int(len(g)),
            int(g["text"].str.len().sum()),
            int(g["turn_idx"].sum()),
            int(g["tool"].notna().sum()),
        ]
    return out


def stream_segments(w: dict, seconds: int) -> int:
    """Number of measured micro-batches: the window is sized from
    ``seconds`` with a fixed nominal batch time, so the same seed and
    seconds always give the same batches."""
    return max(3, round(seconds / w["nominal_batch_s"]))


def cache_key(workload: str, w: dict, seed: int, seconds: int) -> str:
    import hashlib

    from nifi_processors_spark.synth import GEN_VERSION

    h = hashlib.sha1(
        json.dumps([w, seconds, GEN_VERSION], sort_keys=True).encode()
    ).hexdigest()[:10]
    return f"{workload}-s{seed}-g{GEN_VERSION}-{h}"


def _new_keys(w: dict, n_segs: int, seed: int):
    """Segments of conversations newer than the preload, each carrying
    a fixed handful of late updates/deletes to preloaded conversations
    (the tail of their arrival order)."""
    import numpy as np
    import pandas as pd

    from nifi_processors_spark.synth import SynthSpec, generate_events

    pre, per = w["preload_convs"], w["convs_per_segment"]
    ev = generate_events(SynthSpec(
        n_conversations=pre + n_segs * per, turns_per_conv=8,
        n_shards=w["n_shards"], seed=seed,
    ))
    conv_n = ev["conv_id"].str.slice(5).astype(np.int64).to_numpy()
    old, new = ev[conv_n < pre], ev[conv_n >= pre]
    slot = (conv_n[conv_n >= pre] - pre) // per
    k = w["late_per_segment"]
    late = old[old["op"].isin(["U", "D"])].iloc[-n_segs * k:]
    segs = [
        pd.concat([new[slot == i], late.iloc[i * k:(i + 1) * k]])
        for i in range(n_segs)
    ]
    return old.drop(late.index), segs


def _arrival_tail(w: dict, n_segs: int, seed: int):
    """Segments cut from the tail of the arrival order, where updates
    and deletes hit keys spread over the whole table."""
    from nifi_processors_spark.synth import SynthSpec, generate_events

    ev = generate_events(SynthSpec(
        n_conversations=w["preload_convs"], turns_per_conv=8,
        n_shards=w["n_shards"], seed=seed,
    ))
    n_tail = n_segs * w["seg_rows"]
    return ev.iloc[:-n_tail], _split(ev.iloc[-n_tail:], n_segs)


def build(workload: str, w: dict, seed: int, seconds: int, out: str) -> None:
    """Build one cache entry at ``out`` (see module doc)."""
    import pandas as pd

    from nifi_processors_spark.synth import oracle_apply

    n_warm = w["warm_segments"]
    make = _new_keys if w["keys"] == "new" else _arrival_tail
    preload_ev, segs = make(w, stream_segments(w, seconds) + n_warm, seed)
    warm, stream = segs[:n_warm], segs[n_warm:]
    injected = []
    every = w.get("invalid_every")
    if every:
        # the warm-up segment carries one too, so the dead-letter
        # path is warm before the window starts
        marked = [(warm, i) for i in range(n_warm)]
        marked += [(stream, i) for i in range(0, len(stream), every)]
        for segs_of, i in marked:
            segs_of[i], bad = _inject_invalid(segs_of[i])
            injected.append(bad)

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # mtimes in the past, spaced and ordered
    t0 = time.time() - 3 * 24 * 3600
    meta: dict = {"workload": workload, "seed": seed, "seconds": seconds}
    meta["preload_files"] = _write_segments(
        _split(preload_ev, w["preload_files"]), os.path.join(tmp, "preload"), t0
    )
    meta["warm_files"] = _write_segments(warm, os.path.join(tmp, "warm"), t0)
    meta["stream_files"] = _write_segments(stream, os.path.join(tmp, "stream"), t0)
    meta["preload_events"] = int(len(preload_ev))
    meta["stream_valid_events"] = [int(s["conv_id"].notna().sum()) for s in stream]
    meta["injected"] = [
        [int(r.shard), int(r.seq), r.text]
        for b in injected for r in b.itertuples(index=False)
    ]

    final = oracle_apply(pd.concat([preload_ev, *segs]))
    final.to_parquet(os.path.join(tmp, "expected_final.parquet"), index=False)
    meta["final_rows"] = int(len(final))
    meta["final_read"] = read_aggregate_of(final)
    if w.get("read_every_batch"):
        # expectation of the snapshot read after each stream batch
        # (one segment per trigger): the oracle over that prefix
        # (``segs`` holds the segments without the injected rows)
        applied = [preload_ev, *segs[:n_warm]]
        meta["batch_reads"] = []
        for s in segs[n_warm:]:
            applied.append(s)
            meta["batch_reads"].append(read_aggregate_of(oracle_apply(pd.concat(applied))))
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(tmp, ".complete"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure(workload: str, w: dict, seed: int, seconds: int, cache_root: str) -> str:
    """Return a complete cache entry for (workload, seed, seconds),
    building it in a child process when missing."""
    import subprocess

    key = cache_key(workload, w, seed, seconds)
    out = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(out, ".complete")):
        os.makedirs(cache_root, exist_ok=True)
        args = json.dumps([workload, w, seed, seconds, out])
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), args],
            check=True, cwd=ROOT,
        )
    os.utime(out)
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)),
        key=os.path.getmtime,
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    build(*json.loads(sys.argv[1]))
