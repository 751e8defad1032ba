"""Seeded workload inputs: the same seed gives byte-identical event tails.

Every tail is a pandas frame in the engine's change-event layout (op,
conv_id, turn_idx, role, text, tool, ts, seq) plus an ``epoch`` column that
says which landing file(s) an event goes to. The engine only ever sees the
parquet files written from these frames.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from investigraph_etl_spark.cdc.generator import (
    GeneratorConfig,
    generate_events,
    write_epoch_files,
)

#: turns per conversation in the unique-key tail
_TURNS = 40


def dup_tail(n_events: int, n_epochs: int, seed: int) -> pd.DataFrame:
    """The headline tail: generator defaults, ``n_convs = events/50`` —
    Zipf-hot conversations, late events, deletes, ts collisions and
    re-deliveries, about 12 events per live key."""
    cfg = GeneratorConfig(
        n_events=n_events, n_convs=max(1, n_events // 50), seed=seed, n_epochs=n_epochs
    )
    return generate_events(cfg)


def unique_tail(n_events: int, n_epochs: int, seed: int) -> pd.DataFrame:
    """Every ``(conv_id, turn_idx)`` inserted exactly once, keys uniform over
    buckets (duplication 1.0 — the tail on which the fused shape is picked).

    Payload, ts and seq come from the generator with every adversarial
    feature switched off; the keys are then replaced by a seeded permutation
    of ``n_events`` distinct keys."""
    cfg = GeneratorConfig(
        n_events=n_events, n_convs=max(1, n_events // _TURNS), seed=seed,
        n_epochs=n_epochs, p_delete=0.0, p_upsert=0.0, p_duplicate=0.0,
        p_ts_collision=0.0, p_late=0.0,
    )
    ev = generate_events(cfg).sort_values("seq").reset_index(drop=True)
    k = np.random.default_rng(seed + 3).permutation(n_events)
    ev["conv_id"] = np.array([f"conv-{x // _TURNS:07d}" for x in k], dtype=object)
    ev["turn_idx"] = (k % _TURNS).astype(np.int32)
    ev["op"] = "insert"
    ev = ev.sample(frac=1.0, random_state=seed + 4).reset_index(drop=True)
    ev["epoch"] = (np.arange(n_events) * n_epochs // n_events).astype(np.int64)
    return ev


def land(events: pd.DataFrame, out_dir: str, files_per_epoch: int) -> list[str]:
    """Write the tail as landing files, ``files_per_epoch`` per epoch."""
    ev = events.assign(ts=events["ts"].astype("datetime64[us]"))
    paths = write_epoch_files(ev, out_dir, files_per_epoch=files_per_epoch)
    # The file source takes the oldest files first, by modification time at
    # millisecond resolution: one second apart, in name order, keeps every
    # micro-batch equal to one generator epoch.
    base = int(time.time()) - len(paths)
    for i, p in enumerate(sorted(paths)):
        os.utime(p, (base + i, base + i))
    return paths


def batch_winners(events: pd.DataFrame) -> pd.DataFrame:
    """What one MOR epoch appends: per key, the event with the greatest
    ``(ts, seq)`` stamp, tombstones included, as public columns plus
    ``_change_type`` — the rows a changelog read of that epoch returns."""
    win = (
        events.sort_values(["ts", "seq"], kind="stable")
        .drop_duplicates(["conv_id", "turn_idx"], keep="last")
        .copy()
    )
    deleted = win["op"] == "delete"
    for c in ("role", "text", "tool"):
        win[c] = win[c].where(~deleted, None)
    win["_change_type"] = np.where(deleted, "delete", "upsert")
    return win[["conv_id", "turn_idx", "role", "text", "tool", "ts", "_change_type"]]


def dir_bytes(path: str) -> int:
    """Total size of every file under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
