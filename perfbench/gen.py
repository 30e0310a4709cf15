"""Seeded benchmark inputs, built on ``table_ocr_spark.synth``.

Every workload input is a pure function of ``(workload, seed,
GEN_VERSION)``: payload text comes from ``synth.payload_for`` (a pure
function of the turn key), and the conversation lengths, re-drops and
edits come from a ``random.Random`` seeded by the benchmark seed.  Sizes
are held fixed across seeds (exact turn totals, exact class counts), so a
different seed changes the content but not the amount of work.

Inputs are cached under ``<work>/inputs/v<GEN_VERSION>/`` by workload and
seed; a cache entry is complete once its ``meta.json`` exists.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from table_ocr_spark.synth import ROLES, TOOLS, payload_for

# bump when any generated byte changes: old cache entries are then ignored
GEN_VERSION = "2"

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# extract: the bench.py corpus shape (90% 2-20 / 9% 50-200 / 1% 2k-4k turns,
# FIXTURES payload mix, one ~1 MB outlier at conv index 0), held at an
# exact turn total so every seed does the same amount of work
EXTRACT_CONVS = 300
EXTRACT_TURNS = 14_000

# increment: a fixed curated history (seed-independent, built once per
# checkout) and a seeded increment of exactly INCREMENT_TURNS turns
BASE_SEED = 7
BASE_CONVS = 120  # 90% 2-20 turns, 10% 50-200 turns
INCREMENT_TURNS = 500
INCREMENT_REDROPS = 4  # history conversations re-sent byte-identical
INCREMENT_REUPLOADS = 4  # history conversations re-sent lightly edited, new ids
MIXTURE = '{"en": 0.9, "unk": 0.1}'  # jobs/prepare --mixture


def _short(rng: random.Random) -> int:
    return rng.randint(2, 20)


def extract_lengths(rng: random.Random) -> list[int]:
    """Heavy-tailed lengths with exact class counts and an exact total."""
    n_long = EXTRACT_CONVS // 100
    n_med = EXTRACT_CONVS * 9 // 100
    lengths = [_short(rng) for _ in range(EXTRACT_CONVS - n_long - n_med)]
    lengths += [rng.randint(50, 200) for _ in range(n_med)]
    rest = EXTRACT_TURNS - sum(lengths)
    weights = [rng.uniform(0.9, 1.1) for _ in range(n_long)]
    longs = [int(rest * w / sum(weights)) for w in weights]
    longs[-1] += rest - sum(longs)
    if not all(2000 <= n <= 4000 for n in longs):
        raise ValueError(f"long conversation lengths out of range: {longs}")
    lengths += longs
    rng.shuffle(lengths)
    return lengths


def _turn_row(conv_id: str, ci: int, t: int, rng: random.Random, day0: int = 0) -> dict:
    role = ROLES[t % 3] if rng.random() < 0.8 else rng.choice(ROLES)
    kind, text = payload_for(conv_id, t)
    return {
        "conv_id": conv_id,
        "turn_idx": t,
        "role": role,
        "text": text,
        "tool": rng.choice(TOOLS[:3]) if role == "tool" else "",
        "ts": _EPOCH + timedelta(seconds=(day0 + ci) * 86400 + t * 60),
        "kind": kind,
    }


def _frame(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def extract_corpus(seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    for ci, n in enumerate(extract_lengths(rng)):
        conv_id = f"conv-{seed:04d}-{ci:08d}"  # index 0 carries the 1 MB outlier
        rows += [_turn_row(conv_id, ci, t, rng) for t in range(n)]
    return _frame(rows)


def base_history() -> pd.DataFrame:
    rng = random.Random(BASE_SEED)
    rows = []
    for ci in range(BASE_CONVS):
        n = rng.randint(50, 200) if ci % 10 == 9 else _short(rng)
        conv_id = f"hist-{BASE_SEED:04d}-{ci:06d}"
        rows += [_turn_row(conv_id, ci, t, rng) for t in range(n)]
    return _frame(rows)


def increment(seed: int, history: pd.DataFrame) -> tuple[pd.DataFrame, list[str]]:
    """(increment rows, conversation ids to forget) for one seed.

    The increment holds byte-identical re-drops of short history
    conversations (exact-dedup food), lightly edited re-uploads of history
    conversations under new ids (near-dedup food), and new short
    conversations filling it to exactly ``INCREMENT_TURNS`` turns."""
    rng = random.Random(seed)
    sizes = history.groupby("conv_id").size()
    short_ids = sorted(sizes[sizes <= 20].index)
    picked = rng.sample(short_ids, INCREMENT_REDROPS + INCREMENT_REUPLOADS + 2)
    redrop, reup, forget_hist = (
        picked[:INCREMENT_REDROPS],
        picked[INCREMENT_REDROPS:-2],
        picked[-2:],
    )
    day0 = BASE_CONVS + 30
    parts = [history[history.conv_id.isin(redrop)]]
    for i, cid in enumerate(reup):
        edited = history[history.conv_id == cid].copy()
        edited["conv_id"] = f"reup-{seed:04d}-{i:06d}"
        # one appended word per turn: the same conversation, lightly edited
        edited["text"] = edited["text"] + " " + rng.choice(("edited", "updated", "revised"))
        edited["ts"] = edited["ts"] + timedelta(days=day0)
        parts.append(edited)
    remaining = INCREMENT_TURNS - sum(len(p) for p in parts)
    rows, ci = [], 0
    while remaining > 0:
        n = min(_short(rng), remaining)
        conv_id = f"inc-{seed:04d}-{ci:06d}"
        rows += [_turn_row(conv_id, day0 + ci, t, rng) for t in range(n)]
        remaining -= n
        ci += 1
    parts.append(_frame(rows))
    inc = pd.concat(parts, ignore_index=True)
    inc["turn_idx"] = inc["turn_idx"].astype("int32")
    forget = forget_hist + [f"inc-{seed:04d}-{rng.randrange(ci):06d}"]
    return inc, forget


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 8) -> None:
    """Transcript parquet (program schema: no ``kind``), rows shuffled."""
    out = df.drop(columns=["kind"]).sample(frac=1.0, random_state=7).reset_index(drop=True)
    out["ts"] = out["ts"].astype("datetime64[us, UTC]")  # Spark rejects nanos
    table = pa.Table.from_pandas(out, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    step = len(out) // n_files + 1
    for i in range(0, len(out), step):
        pq.write_table(table.slice(i, step), os.path.join(path, f"part-{i // step:05d}.parquet"))


def _describe(df: pd.DataFrame) -> dict:
    return {
        "turns": int(len(df)),
        "convs": int(df.conv_id.nunique()),
        "text_bytes": int(df.text.str.encode("utf-8").str.len().sum()),
        "kinds": {k: int(v) for k, v in df.kind.value_counts().sort_index().items()},
    }


def prepare_inputs(work: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) one workload's inputs; returns their meta dict.

    ``workload`` is ``extract``, ``increment`` or ``history`` (the fixed
    history behind the increment's base; ``seed`` is ignored).  Layout of
    the returned directory ``meta["dir"]``: ``transcripts/`` (the program's
    input), ``kinds.parquet`` (conv_id, turn_idx, text, kind: for the
    kernel probe) and ``meta.json``."""
    if workload == "history":
        seed = BASE_SEED
    d = os.path.join(work, "inputs", f"v{GEN_VERSION}", f"{workload}-{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    extra = {}
    if workload == "extract":
        df = extract_corpus(seed)
    elif workload == "increment":
        df, extra["forget"] = increment(seed, base_history())
    elif workload == "history":
        df = base_history()
    else:
        raise ValueError(f"unknown workload {workload!r}")
    write_parquet(df, os.path.join(d, "transcripts"))
    pq.write_table(
        pa.Table.from_pandas(df[["conv_id", "turn_idx", "text", "kind"]], preserve_index=False),
        os.path.join(d, "kinds.parquet"),
    )
    meta = {"dir": d, "workload": workload, "seed": seed, "version": GEN_VERSION,
            **_describe(df), **extra}
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(meta_path + ".tmp", meta_path)
    return meta
