"""The benchmark's workloads: seeded inputs, one pass through the engine's
public functions, output checks, and the per-layer figures of a traced pass.

Every pass is one closed-loop job on the session it is given. Spans (see
trace.py) wrap each call into a layer; untraced passes run the same calls
with the engine's lazy plans intact.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, inputs


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under path."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def input_rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in os.listdir(path))


def kernel_seconds(series: list[np.ndarray], w: int) -> float:
    """Single-thread compute_mp (MPX) time over the given series."""
    from go_matrixprofile_spark.kernels.matrix_profile import MPOpts, compute_mp

    t0 = time.perf_counter()
    for vals in series:
        if vals.size >= w + 1:
            compute_mp(vals, None, w, MPOpts(algorithm="mpx"))
    return time.perf_counter() - t0


class Workload:
    name = ""
    items = ""  # what items_per_s counts
    sizes: dict[str, dict] = {}

    def prepare(self, cache_dir: str, seed: int, size: str) -> dict:
        raise NotImplementedError

    def run_pass(self, spark, inp: dict, out_dir: str, tr) -> dict:
        """One pass; returns at least {"items": n}."""
        raise NotImplementedError

    def cleanup(self, out_dir: str, stats: dict) -> None:
        shutil.rmtree(out_dir, ignore_errors=True)

    def checks(self, spark, inp: dict, out_dir: str, stats: dict, rng) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def layer_extras(self, spark, inp: dict, out_dir: str, stats: dict, rng) -> dict:
        """Per-layer figures a traced pass computes after its wall closes."""
        return {}


# ---- transcript workloads ----------------------------------------------


class _Transcripts(Workload):
    items = "turns"

    def prepare(self, cache_dir, seed, size):
        path = inputs.ensure(cache_dir, "transcripts", seed, **self.sizes[size])
        return {"corpus": path, "turns": input_rows(path)}

    def _derive(self, spark, inp, tr):
        from go_matrixprofile_spark.operators import series as S

        t = spark.read.parquet(inp["corpus"])
        with tr.span("sources.scan", "sources"):
            t = tr.settle(t)
        with tr.span("series.derive", "series"):
            return tr.settle(S.derive_series(t))


class PipelineCkpt(_Transcripts):
    """The rollup and storage stages of jobs/run_pipeline.py through the
    same public functions, each written with plans.lineage.checkpoint_stage:
    series_raw, tier_1m, tier_1h, filled_1h and compressed. tier_1d,
    mp_profile and the discovery stages are left out so that a run fits
    the benchmark's time budget; rollup_tiers and the fleets cover them."""

    name = "pipeline_ckpt"
    sizes = {
        "default": {"n_convs": 24, "mega_every": 7, "n_turns": 9000},
        "small": {"n_convs": 12, "mega_every": 3, "n_turns": 6000},
    }
    STAGES = ["series_raw", "tier_1m", "tier_1h", "filled_1h", "compressed"]

    def _stage(self, tr, out_dir, name, df, rows):
        from go_matrixprofile_spark.plans.lineage import checkpoint_stage

        with tr.span("lineage.write", "lineage"):
            out = checkpoint_stage(df, out_dir, name)
        with tr.span("lineage.readback", "lineage"):
            out = tr.settle(out)
            rows[name] = out.count()
        return out

    def run_pass(self, spark, inp, out_dir, tr):
        from go_matrixprofile_spark.functions.compress_ops import compress_series
        from go_matrixprofile_spark.operators import rollup as R

        rows: dict[str, int] = {}
        series = self._stage(tr, out_dir, "series_raw", self._derive(spark, inp, tr), rows)
        with tr.span("rollup.tier_1m", "rollup"):
            t1m = tr.settle(R.rollup_raw(series, "1m"))
        t1m = self._stage(tr, out_dir, "tier_1m", t1m, rows)
        with tr.span("rollup.tier_1h", "rollup"):
            t1h = tr.settle(R.rollup_tier(t1m, "1h"))
        t1h = self._stage(tr, out_dir, "tier_1h", t1h, rows)
        with tr.span("rollup.gapfill", "rollup"):
            filled = tr.settle(R.gap_fill_locf(t1h.where("metric = 'turn_rate'"), 3600, value_col="sum"))
        self._stage(tr, out_dir, "filled_1h", filled, rows)
        with tr.span("compress.encode", "compress"):
            comp = tr.settle(compress_series(series.where("metric = 'text_len'")))
        self._stage(tr, out_dir, "compressed", comp, rows)
        return {"items": inp["turns"], "rows": rows}

    def checks(self, spark, inp, out_dir, stats, rng):
        got = {n: checks.read_stage(os.path.join(out_dir, n)) for n in ("tier_1m", "tier_1h", "filled_1h")}
        out = checks.tiers_vs_duckdb(inp["corpus"], got)
        out.append(checks.compressed_roundtrip(spark, out_dir))
        out.append(checks.lineage_counts(out_dir, stats["rows"], self.STAGES))
        return out

    def layer_extras(self, spark, inp, out_dir, stats, rng):
        comp = pq.read_table(os.path.join(out_dir, "compressed"), columns=["ts_blob", "val_blob", "n"]).to_pandas()
        blob_bytes = comp["ts_blob"].map(len).sum() + comp["val_blob"].map(len).sum()
        files, size = dir_bytes(out_dir)
        return {
            "rollup.gapfill_rows_added": float(checks.read_stage(os.path.join(out_dir, "filled_1h"))["filled"].sum()),
            "compress.bits_per_point": 8.0 * blob_bytes / comp["n"].sum(),
            "lineage.files_written": float(files),
            "lineage.bytes_written": float(size),
        }


class RollupTiers(_Transcripts):
    """bench.py's q_rollup + q_gapfill steps: derive, 1m/1h/1d tiers and
    hourly turn-rate gap-fill, every tier materialised in memory."""

    name = "rollup_tiers"
    sizes = {
        "default": {"n_convs": 2000, "mega_every": 100, "n_turns": 200000},
        "small": {"n_convs": 40, "mega_every": 10, "n_turns": 6000},
    }

    def run_pass(self, spark, inp, out_dir, tr):
        from go_matrixprofile_spark.operators import rollup as R

        series = self._derive(spark, inp, tr)
        frames = {}
        # each tier is persisted before the next derives from it (the
        # rollup contract: a 1d row never rescans raw data)
        for name, make in (
            ("tier_1m", lambda: R.rollup_raw(series, "1m")),
            ("tier_1h", lambda: R.rollup_tier(frames["tier_1m"], "1h")),
            ("tier_1d", lambda: R.rollup_tier(frames["tier_1h"], "1d")),
            ("filled_1h", lambda: R.gap_fill_locf(
                frames["tier_1h"].where("metric = 'turn_rate'"), 3600, value_col="sum")),
        ):
            with tr.span("rollup.gapfill" if name == "filled_1h" else f"rollup.{name}", "rollup"):
                frames[name] = make().persist()
                frames[name].count()
        return {"items": inp["turns"], "frames": frames}

    def layer_extras(self, spark, inp, out_dir, stats, rng):
        filled = stats["frames"]["filled_1h"].where("filled")
        return {"rollup.gapfill_rows_added": float(filled.count())}

    def cleanup(self, out_dir, stats):
        for df in stats["frames"].values():
            df.unpersist()

    def checks(self, spark, inp, out_dir, stats, rng):
        return checks.tiers_vs_duckdb(inp["corpus"], {k: df.toPandas() for k, df in stats["frames"].items()})


# ---- matrix-profile fleets ---------------------------------------------


class _Fleet(Workload):
    items = "series"
    kind = ""
    w = 0
    n_checked = 0  # series checked against brute force
    offsets_checked: int | None = None  # per series; None = every offset
    kernel_sample = 0  # series timed single-thread for kernels.kernel_s_sum

    def prepare(self, cache_dir, seed, size):
        path = inputs.ensure(cache_dir, self.kind, seed, **self.sizes[size])
        return {"series": path, "n_series": self.sizes[size]["n_series"]}

    def run_pass(self, spark, inp, out_dir, tr):
        from go_matrixprofile_spark.kernels.matrix_profile import MPOpts
        from go_matrixprofile_spark.operators.profile import assemble_series, matrix_profile_assembled

        src = spark.read.parquet(inp["series"])
        with tr.span("sources.scan", "sources"):
            src = tr.settle(src)
        # matrix_profile(src, w, opts) is exactly these two calls
        with tr.span("profile.assemble", "profile"):
            assembled = tr.settle(assemble_series(src))
        with tr.span("profile.mp_stage", "profile"):
            prof = tr.settle(matrix_profile_assembled(assembled, self.w, MPOpts(algorithm="mpx")))
        with tr.span("sink.write", "sink"):
            prof.write.mode("overwrite").parquet(os.path.join(out_dir, "profile"))
        return {"items": inp["n_series"]}

    def _input(self, inp):
        return pq.read_table(inp["series"]).to_pandas()

    def checks(self, spark, inp, out_dir, stats, rng):
        prof = checks.read_stage(os.path.join(out_dir, "profile"))
        return [checks.mp_vs_brute_force(self._input(inp), prof, self.w, rng, self.n_checked, self.offsets_checked)]

    def layer_extras(self, spark, inp, out_dir, stats, rng):
        src = self._input(inp)
        ids = sorted(src["conv_id"].unique())
        sample = rng.choice(ids, size=min(len(ids), self.kernel_sample), replace=False)
        series = [src.loc[src["conv_id"] == c].sort_values("bucket_s")["value"].to_numpy(np.float64) for c in sample]
        return {
            # a seeded sample, scaled up to the whole fleet
            "kernels.kernel_s_sum": kernel_seconds(series, self.w) * len(ids) / len(sample),
            "profile.series_skipped": float((src.groupby("conv_id").size() < self.w + 1).sum()),
        }


class MpFleet16k(_Fleet):
    """bench.py's q_mpx_16k: MPX, w=128, over step+noise series of 16,384
    points (the Go reference's own benchmark series)."""

    name = "mp_fleet_16k"
    kind = "step_noise"
    w = 128
    sizes = {"default": {"n_series": 8, "n_points": 16384}, "small": {"n_series": 4, "n_points": 2048}}
    n_checked = 2
    offsets_checked = 64
    kernel_sample = 2


class MpFleetSmall(_Fleet):
    """Many short seeded random walks, w=24: assembly, exchange and Arrow
    transfer weigh as much as the kernel."""

    name = "mp_fleet_small"
    kind = "random_walk"
    w = 24
    sizes = {
        "default": {"n_series": 4096, "min_len": 100, "max_len": 720},
        "small": {"n_series": 256, "min_len": 100, "max_len": 720},
    }
    n_checked = 16
    offsets_checked = None
    kernel_sample = 256


WORKLOADS = {wl.name: wl for wl in (RollupTiers(), PipelineCkpt(), MpFleet16k(), MpFleetSmall())}
