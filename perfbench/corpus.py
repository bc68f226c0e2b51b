"""Seeded inputs for the benchmark workloads and their expected anomalies.

Every input is drawn from ``numpy.random.default_rng(seed)`` and written as
parquet, so the program under test sees only files. The expected anomaly
key sets are derived here, never by the pipeline being measured:

- the events workload is checked against ``tests/reference_impl.py``, the
  naive sequential transcription of the reference report flow, run over
  turns that this module derives from the events with pandas;
- the generated turn corpora inject one anomaly line with a unique
  letters-only tag every ``ANOMALY_STRIDE`` turns of a target conversation,
  and each injected line is emitted exactly once, so the expected set is
  the set of injected rows.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
CHANNELS = np.array(["alpine", "breeze", "copper", "dunes"])

TURNS_PER_CONV = 200
N_TOOLS = 8
ANOMALY_STRIDE = 211

# the seven log-line templates and three anomaly shapes of
# logjuicer_spark.gen_spark, drawn from a seeded generator instead of the
# row id, so a seed changes every hash-like word and every injected tag
_TEMPLATES = (
    "2024-03-01 10:{a:02d}:17,123 INFO worker request id=req-{h} from 10.0.{b}.{c} completed cleanly",
    "starting container unit pod-{h} image registry.example.com/app:{d} pulled fine",
    "GET https://api.example.com/v1/items/{h} returned status ok after {d}ms latency",
    "writing build file /tmp/build-{h}/out.log with {d} bytes payload",
    "session token=tok{h} refreshed for account holder expires soon",
    "heartbeat received from peer 192.168.{b}.{c} sequence {d} nominal",
    "database checkpoint {h} flushed {d} pages during maintenance window",
)
_ANOMALIES = (
    "Traceback oops unexpected marker omega{t} raised inside handler routine",
    "FATAL disk corruption detected on volume omega{t} sector unreadable halting",
    "connection refused repeatedly omega{t} upstream gateway unreachable giving up",
)
# digits would be masked by the tokenizer: a tag spelled in letters only
# survives masking, so each tagged line is its own token-set
_LETTERS = str.maketrans("0123456789", "ghijklmnop")


def events_table(seed: int, n_events: int = 100_000, n_users: int = 1500) -> pd.DataFrame:
    """An ``events`` table shaped like the sf0.1 test data: uniform users,
    five uniform event types, exponential values, a 0-99 ``k`` prop and
    timestamps over 30 days. The seed re-draws which user (hence which
    baseline/target side, by user parity) owns each event."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    return pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )


def write_events(events: pd.DataFrame, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(events, preserve_index=False),
        f"{sf_dir}/events.parquet",
        coerce_timestamps="us",
    )


def events_turns(events: pd.DataFrame) -> pd.DataFrame:
    """The documented events -> transcript mapping (conversation per user,
    turn order by (ts, event_id), tool and channel by ``user_id div 2``),
    written in pandas for the expectation."""
    d = events.sort_values(["user_id", "ts", "event_id"])
    half = (d["user_id"] // 2) % 4
    return pd.DataFrame(
        {
            "conv_id": "conv-" + d["user_id"].astype(str),
            "turn_idx": d.groupby("user_id").cumcount().to_numpy() + 1,
            "text": d["event_type"] + " channel " + CHANNELS[half] + " bucket-"
            + np.floor(d["value"]).astype(np.int64).astype(str) + " " + d["props"],
            "tool": "node-" + half.astype(str),
            "etype": d["event_type"].to_numpy(),
            "is_baseline": (d["user_id"] % 2 == 0).to_numpy(),
        }
    )


def expected_events_anomalies(events: pd.DataFrame, repo_root: str) -> set[tuple[str, int]]:
    """(conv_id, turn_idx) of every anomaly the naive sequential oracle
    reports: the baseline is the even users without their error events,
    the target the odd users."""
    sys.path.insert(0, os.path.join(repo_root, "tests"))
    try:
        from reference_impl import naive_report
    finally:
        sys.path.pop(0)
    tv = events_turns(events)
    baseline = tv[tv["is_baseline"] & (tv["etype"] != "error")]
    target = tv[~tv["is_baseline"]]
    out = naive_report(baseline.to_dict("records"), target.to_dict("records"))
    return {(a["conv_id"], int(a["pos"])) for a in out}


def generated_turns(
    seed: int, n_turns: int, unique_tokens: bool, n_tools: int = N_TOOLS
) -> tuple[pd.DataFrame, set]:
    """A ``gen_spark.generate_turns``-shaped corpus: conversations of
    TURNS_PER_CONV turns, even ones baseline, odd ones target with an
    injected anomaly every ANOMALY_STRIDE turns (offset drawn from the
    seed), tools assigned round-robin over ``n_tools``. ``unique_tokens``
    appends a letters-only per-row word, so every line is its own token-set.
    Returns the turns and the expected (conv_id, turn_idx) anomaly keys."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_turns, dtype=np.int64)
    conv = ids // TURNS_PER_CONV
    is_baseline = conv % 2 == 0
    offset = int(rng.integers(0, ANOMALY_STRIDE))
    is_anom = ~is_baseline & (ids % ANOMALY_STRIDE == offset)
    hexes = [format(int(h), "X") for h in rng.integers(0, 2**63, n_turns, dtype=np.int64)]
    tags = [format(int(h), "X").translate(_LETTERS)
            for h in rng.integers(0, 2**63, n_turns, dtype=np.int64)]
    a, b, c, d = (rng.integers(0, hi, n_turns) for hi in (60, 256, 256, 99_991))
    kinds = ids % len(_TEMPLATES)
    texts = []
    for i in range(n_turns):
        if is_anom[i]:
            texts.append(_ANOMALIES[i % len(_ANOMALIES)].format(t=tags[i]))
            continue
        line = _TEMPLATES[kinds[i]].format(a=a[i], b=b[i], c=c[i], d=d[i], h=hexes[i])
        texts.append(f"{line} uniq{tags[i]}" if unique_tokens else line)
    conv_ids = np.char.add("conv-", np.char.zfill(conv.astype(str), 9))
    turn_idx = (ids % TURNS_PER_CONV + 1).astype(np.int32)
    turns = pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": np.array(["user", "assistant", "tool"])[ids % 3],
            "text": texts,
            "tool": np.char.add("node-", (ids % n_tools).astype(str)),
            "ts": pd.to_datetime(1_700_000_000 + ids, unit="s"),
            "is_baseline": is_baseline,
        }
    )
    expected = set(zip(conv_ids[is_anom].tolist(), turn_idx[is_anom].tolist()))
    return turns, expected


def write_turns(turns: pd.DataFrame, path: str, n_files: int = 8) -> None:
    """One parquet file per conversation slice, so the scan splits across
    cores the way a ``spark.range``-generated corpus does."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(turns), n_files + 1).astype(int)
    for k in range(n_files):
        part = turns.iloc[bounds[k]:bounds[k + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            f"{path}/part-{k:05d}.parquet",
            coerce_timestamps="us",
        )
