"""Output checks against references that share no code with the engine.

Each check returns (name, ok, detail); a failed check counts as a failed
call in the run's `failed` / `attempted` figures.

- Tiers and gap-fill: recomputed by DuckDB from the same generated parquet.
- Matrix profiles: brute-force z-normalised nearest-neighbour search with
  the MPX exclusion zone, at the Go fixtures' MPX tolerance (1e-4).
- Compressed stage: decoded with decompress_series, compared bit for bit
  with the stored series it encodes.
- Lineage: each stage's `_lineage` row_count sum equals its row count.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from numpy.lib.stride_tricks import sliding_window_view

MP_TOL = 1e-4  # the Go fixtures' tolerance for MPX
REL_TOL = 1e-9  # float sums folded in another order

# the engine's series / tier definitions, restated in SQL
_REFERENCE_SQL = """
CREATE TEMP TABLE turns AS
  SELECT conv_id, turn_idx, length(text)::DOUBLE AS len, epoch_us(ts) / 1000000.0 AS sec
  FROM read_parquet('{corpus}/*.parquet');
CREATE TEMP TABLE raw AS
  SELECT conv_id, 'text_len' AS metric, sec AS bucket_s, len AS value FROM turns
  UNION ALL
  SELECT * FROM (
    SELECT conv_id, 'inter_turn_latency_s', sec,
           sec - lag(sec) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS value
    FROM turns) WHERE value IS NOT NULL
  UNION ALL
  SELECT conv_id, 'turn_rate', (floor(sec / 60) * 60)::BIGINT::DOUBLE, count(*)::DOUBLE
  FROM turns GROUP BY conv_id, (floor(sec / 60) * 60)::BIGINT;
CREATE TEMP TABLE tier_1m AS
  SELECT conv_id, metric, (floor(bucket_s / 60) * 60)::BIGINT AS bucket_s,
         count(value) AS cnt, sum(value) AS sum, min(value) AS min, max(value) AS max,
         arg_min(value, bucket_s) AS first, arg_max(value, bucket_s) AS last
  FROM raw GROUP BY ALL;
CREATE TEMP TABLE tier_1h AS
  SELECT conv_id, metric, (floor(bucket_s / 3600) * 3600)::BIGINT AS bucket_s,
         sum(cnt) AS cnt, sum(sum) AS sum, min(min) AS min, max(max) AS max,
         arg_min(first, bucket_s) AS first, arg_max(last, bucket_s) AS last
  FROM tier_1m GROUP BY ALL;
CREATE TEMP TABLE tier_1d AS
  SELECT conv_id, metric, (floor(bucket_s / 86400) * 86400)::BIGINT AS bucket_s,
         sum(cnt) AS cnt, sum(sum) AS sum, min(min) AS min, max(max) AS max,
         arg_min(first, bucket_s) AS first, arg_max(last, bucket_s) AS last
  FROM tier_1h GROUP BY ALL;
CREATE TEMP TABLE filled_1h AS
  WITH obs AS (SELECT conv_id, metric, bucket_s, sum AS v FROM tier_1h WHERE metric = 'turn_rate'),
  grid AS (
    SELECT conv_id, metric, unnest(range(min(bucket_s), max(bucket_s) + 1, 3600)) AS bucket_s
    FROM obs GROUP BY ALL)
  SELECT g.conv_id, g.metric, g.bucket_s,
         last_value(o.v IGNORE NULLS) OVER (
           PARTITION BY g.conv_id, g.metric ORDER BY g.bucket_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
         o.v IS NULL AS filled
  FROM grid g LEFT JOIN obs o USING (conv_id, metric, bucket_s);
"""

_TIER_COLS = {"exact": ["cnt"], "float": ["sum", "min", "max", "first", "last"], "bool": []}
_FILLED_COLS = {"exact": [], "float": ["value"], "bool": ["filled"]}


def read_stage(path: str) -> pd.DataFrame:
    """A stored stage as pandas, hive partition columns as plain strings."""
    pdf = pq.read_table(path).to_pandas()
    for col in pdf.columns:
        if isinstance(pdf[col].dtype, pd.CategoricalDtype):
            pdf[col] = pdf[col].astype(str)
    return pdf


def _mismatches(con, ref: str, got: str, cols: dict) -> int:
    keys = ["conv_id", "metric", "bucket_s"]
    on = " AND ".join(f"r.{k} = g.{k}" for k in keys)
    bad = [f"r.{keys[0]} IS NULL", f"g.{keys[0]} IS NULL"]
    bad += [f"r.{c} IS DISTINCT FROM g.{c}" for c in cols["exact"] + cols["bool"]]
    bad += [f"NOT coalesce(abs(r.{c} - g.{c}) <= {REL_TOL} * greatest(1.0, abs(r.{c})), false)" for c in cols["float"]]
    return con.execute(f"SELECT count(*) FROM {ref} r FULL OUTER JOIN {got} g ON {on} WHERE {' OR '.join(bad)}").fetchone()[0]


def tiers_vs_duckdb(corpus: str, got: dict[str, pd.DataFrame]) -> list[tuple[str, bool, str]]:
    """Engine tables (any of tier_1m / tier_1h / tier_1d / filled_1h)
    against the same tables computed by DuckDB from the corpus parquet."""
    con = duckdb.connect()
    try:
        con.execute(_REFERENCE_SQL.format(corpus=corpus))
        out = []
        for name in got:
            con.register("got", got[name])
            n_ref = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
            bad = _mismatches(con, name, "got", _FILLED_COLS if name == "filled_1h" else _TIER_COLS)
            con.unregister("got")
            out.append((f"duckdb.{name}", bad == 0 and n_ref == len(got[name]),
                        f"{len(got[name])} rows vs {n_ref} reference, {bad} mismatched"))
        return out
    finally:
        con.close()


def _brute_force(vals: np.ndarray, w: int, offsets, mp: np.ndarray, idx: np.ndarray) -> tuple[int, int]:
    """(mismatched, undefined): offsets whose profile value or neighbour
    index disagrees with an exhaustive z-normalised search outside the
    exclusion zone, and offsets with no subsequence outside that zone
    (no nearest neighbour is defined there, so they are not compared)."""
    win = sliding_window_view(vals, w)
    centred = win - win.mean(axis=1, keepdims=True)
    norm = np.sqrt(np.einsum("ij,ij->i", centred, centred))
    excl = max(1, w // 4)  # MPX exclusion zone (matrixprofile.go)
    bad = undefined = 0
    for i in offsets:
        rho = np.minimum(centred @ centred[i] / (norm * norm[i]), 1.0)
        dist = np.sqrt(np.maximum(2.0 * w * (1.0 - rho), 0.0))
        dist[max(0, i - excl + 1) : i + excl] = np.inf
        if not np.isfinite(dist.min()):
            undefined += 1
            continue
        j = int(idx[i])
        ok = abs(dist.min() - mp[i]) <= MP_TOL and abs(i - j) >= excl and abs(dist[j] - mp[i]) <= MP_TOL
        bad += not ok
    return bad, undefined


def mp_vs_brute_force(series: pd.DataFrame, prof: pd.DataFrame, w: int, rng, n_sample: int,
                      n_offsets: int | None) -> tuple[str, bool, str]:
    """Every series of length >= w+1 has exactly one profile row per
    offset; a seeded sample of series is checked against brute force on
    every offset (n_offsets None) or a seeded sample of offsets."""
    lengths = series.groupby(["conv_id", "metric"]).size()
    want = lengths[lengths >= w + 1] - w + 1
    shape = prof.groupby(["conv_id", "metric"])["offset"].agg(["size", "min", "max", "nunique"])
    shape_ok = (
        set(shape.index) == set(want.index)
        and bool((shape["size"] == want.reindex(shape.index)).all())
        and bool((shape["nunique"] == shape["size"]).all())
        and bool((shape["min"] == 0).all())
        and bool((shape["max"] == shape["size"] - 1).all())
    )
    keys = sorted(want.index)
    sample = [keys[k] for k in rng.choice(len(keys), size=min(n_sample, len(keys)), replace=False)]
    by_series = dict(tuple(series.groupby(["conv_id", "metric"])))
    by_prof = dict(tuple(prof.groupby(["conv_id", "metric"])))
    checked = bad = undefined = degenerate = 0
    for key in sample:
        vals = by_series[key].sort_values("bucket_s")["value"].to_numpy(np.float64)
        p = by_prof[key].sort_values("offset")
        win = sliding_window_view(vals, w)
        if win.std(axis=1).min() <= 1e-8 * max(1.0, np.abs(vals).max()):
            # flat windows have no z-normalised distance; the structural
            # check above still covers this series
            degenerate += 1
            continue
        n_sub = vals.size - w + 1
        offs = range(n_sub) if n_offsets is None else rng.choice(n_sub, size=min(n_offsets, n_sub), replace=False)
        b, u = _brute_force(vals, w, offs, p["mp"].to_numpy(), p["idx"].to_numpy())
        checked += len(offs) - u
        bad += b
        undefined += u
    return ("mp.brute_force", shape_ok and bad == 0 and checked > 0,
            f"{len(want)} series shaped {'ok' if shape_ok else 'WRONG'}; {checked} offsets in "
            f"{len(sample) - degenerate} sampled series, {bad} mismatched; not compared: {undefined} offsets "
            f"without a neighbour outside the exclusion zone, {degenerate} series with flat windows")


def compressed_roundtrip(spark, out_dir: str) -> tuple[str, bool, str]:
    """Decode the compressed stage with decompress_series and compare it,
    bit for bit, with the text_len series it encodes."""
    from go_matrixprofile_spark.functions.compress_ops import decompress_series

    keys = ["conv_id", "bucket_s"]
    got = decompress_series(spark.read.parquet(os.path.join(out_dir, "compressed"))).toPandas()
    ref = read_stage(os.path.join(out_dir, "series_raw"))
    ref = ref[ref["metric"] == "text_len"]
    got = got.sort_values(keys).reset_index(drop=True)
    ref = ref.sort_values(keys).reset_index(drop=True)
    ok = len(got) == len(ref) and all(
        np.array_equal(got[c].to_numpy(), ref[c].to_numpy()) for c in ("conv_id", "bucket_s", "value")
    )
    return ("compress.roundtrip", ok, f"{len(got)} decoded points vs {len(ref)} stored")


def lineage_counts(out_dir: str, rows: dict[str, int], stages: list[str]) -> tuple[str, bool, str]:
    lin = pq.read_table(os.path.join(out_dir, "_lineage")).to_pandas()
    sums = lin.groupby("stage")["row_count"].sum()
    # an empty stage writes no lineage rows
    wrong = [s for s in stages if int(sums.get(s, 0)) != rows[s]]
    return ("lineage.row_counts", not wrong, f"{len(stages)} stages, mismatched: {wrong or 'none'}")
