"""Seeded benchmark inputs, generated once per (kind, seed, size) and
cached as parquet under the benchmark's work directory.

Generation runs in this process with pandas/pyarrow, before any Spark
session exists, so it is outside every metric and leaves the session the
workload measures untouched. The engine only ever reads the parquet.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# files per input: at least one scan split per core on the hosts this runs on
N_FILES = 8


def _write(frames: list[pd.DataFrame], path: str, schema: pa.Schema) -> None:
    """Write frames round-robin into N_FILES parquet files under path."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for k in range(N_FILES):
        part = frames[k::N_FILES]
        if not part:
            continue
        table = pa.Table.from_pandas(pd.concat(part, ignore_index=True), schema, preserve_index=False)
        pq.write_table(table, os.path.join(tmp, f"part-{k:05d}.parquet"))
    os.replace(tmp, path)


TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

SERIES_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("metric", pa.string()),
        ("bucket_s", pa.float64()),
        ("value", pa.float64()),
    ]
)


def _cap_lengths(lengths: list[int], total: int) -> list[int]:
    """Truncate the longest conversations to one common cap so the lengths
    sum to exactly `total` (the smaller conversations are kept whole)."""
    if sum(lengths) <= total:
        return lengths
    order = sorted(lengths)
    kept = 0
    for k, n in enumerate(order):
        cap, spare = divmod(total - kept, len(order) - k)
        if n >= cap:
            break
        kept += n
    out, extra = [], spare
    for n in lengths:  # the first `spare` capped conversations keep one more turn
        if n > cap:
            n, extra = cap + (extra > 0), extra - 1
        out.append(n)
    return out


def transcripts(path: str, seed: int, n_convs: int, mega_every: int, n_turns: int) -> None:
    """Transcript corpus from sources.datagen: the same per-conversation
    generator write_corpus distributes, with a mega-thread every
    `mega_every` conversations, plus the planted Go-fixture conversations.

    The seed draws every conversation's length, timing and text; the
    longest conversations are then cut to their first turns so that each
    seed's corpus has exactly n_convs conversations and n_turns turns
    (fixtures aside), and the work a pass does does not swing with the
    seed's power-law draw. Mega-threads stay the longest conversations."""
    from go_matrixprofile_spark.sources import datagen

    frames = [datagen.gen_conv_pdf(i, seed, mega_every) for i in range(n_convs)]
    lengths = _cap_lengths([len(f) for f in frames], n_turns)
    frames = [f.iloc[:n] for f, n in zip(frames, lengths)]
    frames.append(datagen.fixture_conv_pdf())
    for f in frames:
        f["ts"] = f["ts"].dt.tz_localize("UTC")
    _write(frames, path, TRANSCRIPT_SCHEMA)


def _long(sid: int, vals: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": f"s{sid:05d}",
            "metric": "bench",
            "bucket_s": np.arange(vals.size, dtype=np.float64),
            "value": vals,
        }
    )


def step_noise_fleet(path: str, seed: int, n_series: int, n_points: int) -> None:
    """The Go benchmark's series shape (a 0→1 step plus 0.1-amplitude
    noise, matrixprofile_bench_test.go setupData) built with kernels.siggen,
    one seeded noise stream per series, in long format."""
    from go_matrixprofile_spark.kernels import siggen

    half = n_points // 2
    frames = []
    for sid in range(n_series):
        sig = siggen.add(
            siggen.append_sigs(siggen.line(0, 0, half), siggen.line(0, 1, n_points - half)),
            siggen.noise(0.1, n_points, rng=np.random.default_rng([seed, sid])),
        )
        frames.append(_long(sid, sig))
    _write(frames, path, SERIES_SCHEMA)


def random_walk_fleet(path: str, seed: int, n_series: int, min_len: int, max_len: int) -> None:
    """Seeded random walks with seeded lengths in [min_len, max_len]."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(min_len, max_len + 1, n_series)
    frames = [
        _long(sid, np.cumsum(np.random.default_rng([seed, 2, sid]).standard_normal(int(n))))
        for sid, n in enumerate(lengths)
    ]
    _write(frames, path, SERIES_SCHEMA)


def ensure(cache_dir: str, kind: str, seed: int, **size) -> str:
    """Path of the cached input, generating it on first use."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(cache_dir, f"{kind}-seed{seed}-{tag}")
    if not os.path.isdir(path):
        os.makedirs(cache_dir, exist_ok=True)
        {"transcripts": transcripts, "step_noise": step_noise_fleet, "random_walk": random_walk_fleet}[kind](
            path, seed, **size
        )
    return path
