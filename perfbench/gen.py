"""Seeded input generators.

Everything the benchmark feeds the engine is written here, before the
process under test starts, and cached per seed under ``.data/s<seed>``
in the benchmark directory.  The engine reads only these files.

* ``stream/events.parquet`` — one day of a ship feed in the ``events``
  schema: the entry module's five event types as streams, each sampled
  about every 3 s like the reference's sensors (≈1k rows per 10 min,
  ≈6k per 60-min cron read).  Value spikes, gradient jumps and z-score
  outliers make every check raise flags.
* ``flags_prefill/`` — the ``qc_cron`` flags table as the day's
  earlier cron fires left it, one ``flag_date`` partition.
* ``corpus/shard=N/`` — distinct document shards built from a
  word pool, with a fixed language mix, exact-copy share and
  near-duplicate share.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY = dt.datetime(2024, 3, 4)
# the entry module's EVENT_TYPES, whose thresholds the QC config uses
STREAM_TYPES = ("click", "error", "purchase", "signup", "view")
# per-stream (centre, walk step) inside the entry module's range thresholds
_LEVELS = {
    "click": (120.0, 0.8),
    "error": (100.0, 0.7),
    "purchase": (110.0, 0.9),
    "signup": (105.0, 0.6),
    "view": (125.0, 0.8),
}
MEAN_STEP_S = 3.0  # the reference's per-stream sampling period

# qc_cron: the first timed cron fire; the table holds every earlier fire
CRON_FIRST_FIRE = DAY + dt.timedelta(hours=12)
CRON_STEP = dt.timedelta(minutes=10)
CRON_READ = dt.timedelta(minutes=60)  # 10-min step + 50-min overlap

# corpus shards
SHARD_DOCS = 4000
N_SHARDS = 32
LANG_MIX = {"en": 0.6, "de": 0.2, "fr": 0.1, "es": 0.1}
EXACT_COPY_SHARE = 0.02
NEAR_DUP_SHARE = 0.10

_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "es"],
}


def data_dir(root: str, seed: int) -> str:
    return os.path.join(root, ".data", f"s{seed}")


def _stream(rng: np.random.Generator) -> pa.Table:
    day_us = 86_400 * 1_000_000
    start_us = int((DAY - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    parts = []
    for k, t in enumerate(STREAM_TYPES):
        n = int(86_400 / MEAN_STEP_S * 1.02)
        gaps = rng.integers(2_500_000, 3_500_000, size=n)
        ts = start_us + rng.integers(0, 1_000_000) + np.cumsum(gaps)
        ts = ts[ts < start_us + day_us]
        m = len(ts)
        centre, step = _LEVELS[t]
        walk = np.cumsum(rng.normal(0.0, step, size=m))
        # mean-reverting walk: stays inside the range thresholds
        walk -= np.convolve(walk, np.ones(600) / 600.0, mode="same")
        val = centre + walk + rng.normal(0.0, 0.3, size=m)
        u = rng.random(m)
        val = np.where(u < 0.002, 400.0 + 50.0 * rng.random(m), val)  # range
        val = np.where((u >= 0.002) & (u < 0.005), val + 60.0, val)  # gradient
        val = np.where((u >= 0.005) & (u < 0.010), val + 12.0, val)  # z-score
        val = np.round(val, 2)
        parts.append((ts, np.full(m, k), val))
    ts = np.concatenate([p[0] for p in parts])
    kind = np.concatenate([p[1] for p in parts])
    val = np.concatenate([p[2] for p in parts])
    order = np.lexsort((kind, ts))
    ts, kind, val = ts[order], kind[order], val[order]
    n = len(ts)
    types = np.array(STREAM_TYPES, dtype=object)[kind]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 500, size=n, dtype=np.int64)),
            "event_type": pa.array(types, type=pa.string()),
            "value": pa.array(val),
            "props": pc.binary_join_element_wise(
                '{"k": ',
                pc.cast(pa.array(rng.integers(0, 100, size=n)), pa.string()),
                "}",
                "",
            ),
        }
    )


def _prefill(rng: np.random.Generator, stream: pa.Table) -> pa.Table:
    """Flags of every observation earlier cron fires already wrote."""
    cut = CRON_FIRST_FIRE - CRON_STEP
    ts = stream.column("ts").to_numpy()
    keep = ts < np.datetime64(cut, "us")
    ids = stream.column("event_id").to_numpy()[keep]
    flags = rng.choice(
        np.array([0, 2, 3, 4], dtype=np.int8), size=len(ids),
        p=[0.9, 0.04, 0.03, 0.03],
    )
    return pa.table(
        {"iot_id": pa.array(ids), "qc_flag": pa.array(flags, type=pa.int8())}
    )


def _words(rng: np.random.Generator, n: int) -> list[str]:
    syl = np.array(
        ["ka", "lo", "mi", "re", "tu", "sa", "ne", "po", "vi", "da", "ge",
         "ru", "fo", "li", "ba", "te", "zo", "wi", "hu", "ma"]
    )
    cand = rng.choice(syl, size=(3 * n, 4))
    lens = rng.integers(2, 5, size=3 * n)
    words = ["".join(c[:k]) for c, k in zip(cand.tolist(), lens.tolist())]
    return sorted(set(words))[:n]


def _shard(rng: np.random.Generator, pool: list[str], first_id: int) -> pa.Table:
    n, width = SHARD_DOCS, 120
    lang_names = list(LANG_MIX)
    lang = rng.choice(len(lang_names), size=n, p=list(LANG_MIX.values()))
    length = rng.integers(40, width, size=n)
    toks = rng.integers(0, len(pool), size=(n, width))
    # marker words sit past the pool, 5 per language
    mark = rng.random((n, width)) < 0.2
    marker_ids = len(pool) + 5 * lang[:, None] + rng.integers(0, 5, size=(n, width))
    toks = np.where(mark, marker_ids, toks)
    # copies point at an earlier doc of the same shard; near-duplicates
    # then swap one or two of its tokens
    kind = rng.random(n)
    kind[:20] = 1.0
    src = (rng.random(n) * np.arange(n)).astype(np.int64)
    copied = kind < EXACT_COPY_SHARE + NEAR_DUP_SHARE
    near = copied & (kind >= EXACT_COPY_SHARE)
    for i in np.flatnonzero(copied):  # sources precede copies: in order
        toks[i] = toks[src[i]]
        length[i] = length[src[i]]
        lang[i] = lang[src[i]]
    pos = (rng.random((n, 2)) * length[:, None]).astype(np.int64)
    swap = np.stack([near, near & (rng.random(n) < 0.5)], axis=1)
    rows = np.repeat(np.arange(n)[:, None], 2, axis=1)
    toks[rows[swap], pos[swap]] = rng.integers(0, len(pool), size=int(swap.sum()))
    vocab = pool + [w for lg in lang_names for w in _MARKERS[lg]]
    text = [
        " ".join([vocab[j] for j in row[:k]])
        for row, k in zip(toks.tolist(), length.tolist())
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "text": pa.array(text, type=pa.string()),
            "lang": pa.array(np.array(lang_names)[lang], type=pa.string()),
            "source": pa.array(
                np.array(["web", "news", "forum"])[rng.integers(0, 3, size=n)],
                type=pa.string(),
            ),
            "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
        }
    )


def ensure_inputs(root: str, seed: int, workload: str) -> dict:
    """Write (once per seed) the inputs ``workload`` reads; return their
    paths and row/byte sizes."""
    d = data_dir(root, seed)
    done = os.path.join(d, f"{workload}.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(d, exist_ok=True)
    info: dict = {"dir": d}
    if workload == "qc_cron":
        stream_path = os.path.join(d, "stream", "events.parquet")
        os.makedirs(os.path.dirname(stream_path), exist_ok=True)
        stream = _stream(np.random.default_rng([seed, 1]))
        pq.write_table(stream, stream_path, row_group_size=16_384)
        info["stream"] = {
            "path": stream_path,
            "rows": stream.num_rows,
            "bytes": os.path.getsize(stream_path),
        }
        pre = os.path.join(d, "flags_prefill", f"flag_date={DAY.date()}")
        os.makedirs(pre, exist_ok=True)
        tbl = _prefill(np.random.default_rng([seed, 2]), stream)
        pq.write_table(tbl, os.path.join(pre, "part-00000.parquet"))
        info["prefill"] = {
            "path": os.path.dirname(pre),
            "rows": tbl.num_rows,
            "bytes": os.path.getsize(os.path.join(pre, "part-00000.parquet")),
        }
    if workload == "corpus_curate":
        rng = np.random.default_rng([seed, 3])
        pool = _words(rng, 6000)
        cdir = os.path.join(d, "corpus")
        total = 0
        for s in range(N_SHARDS):
            p = os.path.join(cdir, f"shard={s}", "part-00000.parquet")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            pq.write_table(_shard(rng, pool, s * SHARD_DOCS), p)
            total += os.path.getsize(p)
        info["corpus"] = {
            "path": cdir,
            "shards": N_SHARDS,
            "rows_per_shard": SHARD_DOCS,
            "bytes": total,
        }
    with open(done + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(done + ".tmp", done)
    return info
