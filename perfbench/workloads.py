"""The benchmark's workloads: seeded inputs, one pass each, output checks.

Every workload grids the field ``1000·sin(2πx/2.5)·cos(2πy/2.5)`` over the
region ``(-5, 0, 5, 10)`` through verde_spark's public functions. A pass
returns an :class:`Outcome` holding what the checks need; ``check`` compares
it with the analytic field, with NumPy oracles and with the first pass of
the run.

Inputs are seeded by ``--seed``. ``flagship`` reads a page table made by
``synthesize_pages_numpy`` and cached as parquet under the work directory,
keyed by row count, seed and a hash of the generator source.
``dense_tiles`` runs ``synthesize_pages`` in every pass.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import numpy as np
import pandas as pd

REGION = (-5.0, 0.0, 5.0, 10.0)
WAVENUMBER = 2 * np.pi / 2.5
AMPLITUDE = 1000.0
#: polygons of the zonal-statistics step; vertices sit off the grid nodes
POLYGONS = {
    "triangle": [(-4.31, 5.37), (-2.79, 5.64), (-3.92, 7.31)],
    "square": [(-2.27, 5.26), (-0.29, 5.26), (-0.29, 7.23), (-2.27, 7.23)],
    "arrow": [(-4.45, 7.65), (-2.35, 7.65), (-2.35, 7.45), (-1.15, 8.55),
              (-2.35, 9.65), (-2.35, 9.45), (-4.45, 9.45)],
    "pentagon": [(-1.45, 7.8), (-0.65, 8.45), (-0.95, 9.6), (-1.95, 9.6), (-2.25, 8.45)],
}
#: grid values of two passes must agree to this (tile groups reach the
#: solver in shuffle order, so the normal matrix sums in another order)
PASS_ATOL = 1e-6 * AMPLITUDE
#: NumPy tile oracle vs the distributed grid
ORACLE_ATOL = 1e-5 * AMPLITUDE


def true_field(east, north):
    return AMPLITUDE * np.sin(WAVENUMBER * east) * np.cos(WAVENUMBER * north)


def field_col():
    from pyspark.sql import functions as F

    return (
        F.lit(AMPLITUDE)
        * F.sin(F.lit(WAVENUMBER) * F.col("easting"))
        * F.cos(F.lit(WAVENUMBER) * F.col("northing"))
    ).alias("scalars")


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


class _PandasFrames:
    """Stands in for the session of a generator that ends in
    ``spark.createDataFrame(pdf)``, and hands back the pandas frame."""

    @staticmethod
    def createDataFrame(pdf):
        return pdf


def _write_parquet(pdf: pd.DataFrame, path: str, parts: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    bounds = np.linspace(0, len(pdf), parts + 1).astype(int)
    for i in range(parts):
        chunk = pa.Table.from_pandas(
            pdf.iloc[bounds[i]: bounds[i + 1]], preserve_index=False
        )
        pq.write_table(chunk, os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def cached_pages(work: str, n: int, seed: int, parts: int = 8) -> str:
    """Parquet path of ``synthesize_pages_numpy``'s page table for *n* and
    *seed*, built without a JVM, once per row count, seed and source of
    the generator and the writer. The row count is verified before the
    input is used."""
    from verde_spark.sources.pages import synthesize_pages_numpy

    src = inspect.getsource(synthesize_pages_numpy) + inspect.getsource(_write_parquet)
    key = json.dumps({"n": n, "seed": seed, "parts": parts}, sort_keys=True) + src
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    root = os.path.join(work, "inputs")
    path = os.path.join(root, f"pages-{digest}")
    meta = os.path.join(path, "_rows.json")
    if not os.path.exists(meta):
        shutil.rmtree(path, ignore_errors=True)
        pdf = synthesize_pages_numpy(_PandasFrames(), n, region=REGION, seed=seed)
        _write_parquet(pdf, path, parts)
        with open(meta, "w") as fh:
            json.dump({"rows": len(pdf), "seed": seed}, fh)
        _evict(root, "pages", keep=path)
    found = _parquet_rows(path)
    if found != n:
        raise RuntimeError(f"cached input {path} holds {found} rows, expected {n}")
    return path


def _evict(root: str, kind: str, keep: str, limit: int = 24) -> None:
    """Keep the newest *limit* cached inputs of one kind."""
    entries = [
        os.path.join(root, d) for d in os.listdir(root) if d.startswith(kind + "-")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[limit:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# NumPy oracles
# ---------------------------------------------------------------------------


GEOTAG = r"geo:(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?)"


def page_coords(text: pd.Series):
    """``(lon, lat)`` of every page, parsed from its ``text`` with Python's
    regex engine rather than the program's geotag functions."""
    found = text.str.extract(GEOTAG).astype("float64")
    return found[1].to_numpy(), found[0].to_numpy()


def block_mean_oracle(east: np.ndarray, north: np.ndarray, spacing: float) -> pd.DataFrame:
    """Unweighted block mean of the analytic field in NumPy, as
    ``block_mean`` defines it: per non-empty block the mean coordinates
    and data, and the weight ``min(var) / var`` of the sample variance,
    where a variance at or below 1e-15 (a single point among them) gives
    weight 1."""
    from verde_spark import BlockGrid

    grid = BlockGrid.from_region(REGION, spacing=spacing)
    label = _axis_index(north, grid.north) * grid.east.size + _axis_index(east, grid.east)
    blocks, inv, count = np.unique(label, return_inverse=True, return_counts=True)
    data = true_field(east, north)

    def mean(values):
        return np.bincount(inv, weights=values) / count

    mu = mean(data)
    squares = np.bincount(inv, weights=(data - mu[inv]) ** 2)
    var = np.where(count > 1, squares / np.maximum(count - 1, 1), 0.0)
    weight = np.ones_like(var)
    positive = var > 1e-15
    weight[positive] = var[positive].min() / var[positive]
    return pd.DataFrame({
        "block": blocks, "easting": mean(east), "northing": mean(north),
        "scalars": mu, "weight_scalars": weight,
    })


def forces_fails(forces: pd.DataFrame, oracle: pd.DataFrame) -> List[str]:
    """The program's block-mean table against the NumPy one."""
    got = forces.sort_values("block").reset_index(drop=True)
    if not np.array_equal(got["block"].to_numpy(), oracle["block"].to_numpy()):
        return [f"{len(got)} blocks, the NumPy block mean has {len(oracle)} "
                "(or other block ids)"]
    fails = []
    for col, atol, rtol in (("easting", 1e-12, 0), ("northing", 1e-12, 0),
                            ("scalars", 1e-9 * AMPLITUDE, 0), ("weight_scalars", 0, 1e-6)):
        diff = np.abs(got[col].to_numpy("float64") - oracle[col].to_numpy())
        if not (diff <= atol + rtol * np.abs(oracle[col].to_numpy())).all():
            fails.append(f"block-mean {col} differs from the NumPy block mean by {diff.max():.3g}")
    return fails


def _axis_index(coord, axis):
    edge = axis.start - axis.step / 2
    return np.clip(np.floor((coord - edge) / axis.step).astype(np.int64), 0, axis.size - 1)


@dataclass
class TileGroups:
    """Halo-tile membership of a force table, as the spline solve sees it."""

    points: Dict[int, np.ndarray]  # tile -> indices into the force table
    nodes: Dict[int, np.ndarray]  # tile -> indices into the node table
    exploded_rows: int


def tile_groups(forces: pd.DataFrame, nodes: pd.DataFrame, tile: float, halo: float) -> TileGroups:
    from verde_spark import BlockGrid

    grid = BlockGrid.from_region(REGION, spacing=tile)
    ex, ny = grid.east, grid.north
    e = forces["easting"].to_numpy()
    n = forces["northing"].to_numpy()
    x0, x1 = _axis_index(e - halo, ex), _axis_index(e + halo, ex)
    y0, y1 = _axis_index(n - halo, ny), _axis_index(n + halo, ny)
    members: Dict[int, List[int]] = {}
    rows = 0
    for i in range(len(e)):
        for iy in range(y0[i], y1[i] + 1):
            for ix in range(x0[i], x1[i] + 1):
                members.setdefault(int(iy * ex.size + ix), []).append(i)
                rows += 1
    node_tile = _axis_index(nodes["northing"].to_numpy(), ny) * ex.size + _axis_index(
        nodes["easting"].to_numpy(), ex
    )
    order = np.argsort(node_tile, kind="stable")
    uniq, starts = np.unique(node_tile[order], return_index=True)
    node_groups = dict(zip(uniq.tolist(), np.split(order, starts[1:])))
    return TileGroups(
        points={t: np.asarray(v) for t, v in members.items()},
        nodes=node_groups,
        exploded_rows=rows,
    )


def solve_tiles(forces: pd.DataFrame, nodes: pd.DataFrame, groups: TileGroups,
                tiles, damping: float):
    """Run the public spline kernels on the given tiles in this process.

    Returns ``(predictions by node index, kernel seconds, kernel flops)``.
    Flops count the dense linear algebra of each tile with *m* points and
    *k* nodes: the normal matrix (2m³), its solve (2m³/3), the right-hand
    side (2m²) and the prediction (2km). Green's-function evaluations are
    not counted.
    """
    from verde_spark.lstsq import least_squares
    from verde_spark.operators.spline import spline_jacobian, spline_predict

    e = forces["easting"].to_numpy("float64")
    n = forces["northing"].to_numpy("float64")
    d = forces["scalars"].to_numpy("float64")
    w = forces["weight_scalars"].to_numpy("float64")
    ne = nodes["easting"].to_numpy("float64")
    nn = nodes["northing"].to_numpy("float64")
    pred = {}
    seconds = 0.0
    flops = 0.0
    for t in tiles:
        idx = groups.points.get(t)
        nidx = groups.nodes.get(t)
        if idx is None or nidx is None:
            continue
        m, k = len(idx), len(nidx)
        t0 = time.perf_counter()
        jac = spline_jacobian(e[idx], n[idx], e[idx], n[idx])
        coef = least_squares(jac, d[idx], w[idx], damping)
        values = spline_predict(ne[nidx], nn[nidx], e[idx], n[idx], coef)
        seconds += time.perf_counter() - t0
        flops += 2.0 * m**3 + 2.0 * m**3 / 3.0 + 2.0 * m**2 + 2.0 * k * m
        pred.update(zip(nidx.tolist(), values.tolist()))
    return pred, seconds, flops


def knn_oracle(points: pd.DataFrame, nodes: pd.DataFrame, k: int, chunk: int = 1000):
    """Brute force over *points* at each node: ``(mean of the k nearest
    values, distance to the nearest point)``."""
    e = points["easting"].to_numpy()[None, :]
    n = points["northing"].to_numpy()[None, :]
    values = points["scalars"].to_numpy()
    ne, nn = nodes["easting"].to_numpy(), nodes["northing"].to_numpy()
    means, nearest = [], []
    for i in range(0, len(ne), chunk):
        d2 = (ne[i:i + chunk, None] - e) ** 2 + (nn[i:i + chunk, None] - n) ** 2
        means.append(values[np.argpartition(d2, k - 1, axis=1)[:, :k]].mean(axis=1))
        nearest.append(np.sqrt(d2.min(axis=1)))
    return np.concatenate(means), np.concatenate(nearest)


def r2(observed: np.ndarray, predicted: np.ndarray) -> float:
    return float(1.0 - ((observed - predicted) ** 2).sum()
                 / ((observed - observed.mean()) ** 2).sum())


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Counter-clockwise hull vertices (Andrew's monotone chain)."""
    pts = np.unique(points, axis=0)

    def half(seq):
        out: List[np.ndarray] = []
        for p in seq:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out[:-1]

    return np.array(half(pts) + half(pts[::-1]))


def hull_margin(hull: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Smallest edge cross product per point: > 0 strictly inside."""
    a = hull
    b = np.roll(hull, -1, axis=0)
    cross = (b[:, 0] - a[:, 0])[None, :] * (y[:, None] - a[:, 1][None, :]) - (
        b[:, 1] - a[:, 1]
    )[None, :] * (x[:, None] - a[:, 0][None, :])
    return cross.min(axis=1)


def in_polygon(x: np.ndarray, y: np.ndarray, verts) -> np.ndarray:
    """Even-odd rule."""
    inside = np.zeros(x.shape, dtype=bool)
    v = np.asarray(verts, dtype="float64")
    for (xa, ya), (xb, yb) in zip(v, np.roll(v, -1, axis=0)):
        crosses = (ya > y) != (yb > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = xa + (y - ya) * (xb - xa) / (yb - ya)
        inside ^= crosses & (x < xi)
    return inside


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


@dataclass
class Outcome:
    """What one pass produced, reduced to what the checks compare."""

    grid: Optional[np.ndarray]  # node values in (iy, ix) order
    nodes: Optional[pd.DataFrame]  # iy, ix, easting, northing, same order
    extra: Dict[str, object] = field(default_factory=dict)


def _sorted_grid(pdf: pd.DataFrame, value_col: str):
    pdf = pdf.sort_values(["iy", "ix"], kind="stable").reset_index(drop=True)
    return pdf[value_col].to_numpy("float64"), pdf[["iy", "ix", "easting", "northing"]]


class NullTracer:
    """Tracer of an untraced pass: no labels, no materialization."""

    enabled = False

    def layer(self, name):
        from contextlib import nullcontext

        return nullcontext()

    def materialize(self, name, df):
        return df

    def rows_out(self, name, n):
        pass


def load_expected(name: str, seed: int) -> dict:
    """The recorded check values of one workload: value bands for every
    seed, plus exact values for the seeds that were recorded."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as fh:
        spec = json.load(fh)[name]
    return {**spec["bands"], "recorded": spec["recorded"].get(str(seed)) or {}}


def grid_fails(out: Outcome, nodes: int, first: Optional[Outcome], band, recorded) -> List[str]:
    """Node count, NaN, agreement with the run's first grid, and the RMSE
    against the analytic field inside its band (and equal to the recorded
    value, when there is one)."""
    if out.grid.size != nodes:
        return [f"{out.grid.size} grid nodes, expected {nodes}"]
    fails = []
    if np.isnan(out.grid).any():
        fails.append(f"{int(np.isnan(out.grid).sum())} NaN grid values")
    if first is not None:
        diff = np.nanmax(np.abs(out.grid - first.grid))
        if not diff <= PASS_ATOL:
            fails.append(f"grid differs from the first pass by {diff:.3g}")
    err = rmse(out)
    if not band[0] <= err <= band[1]:
        fails.append(f"grid RMSE {err:.6g} outside the recorded band {band}")
    if recorded is not None and not abs(err - recorded) <= 1e-6 * recorded:
        fails.append(f"grid RMSE {err:.9g} differs from the recorded {recorded}")
    return fails


def rmse(out: Outcome) -> float:
    truth = true_field(out.nodes["easting"].to_numpy(), out.nodes["northing"].to_numpy())
    return float(np.sqrt(np.nanmean((out.grid - truth) ** 2)))


class SplineWorkload:
    """pages → geotag → block_mean → tiled spline → grid."""

    name = ""
    pages_n = 0
    nodes = 0
    spacing = 0.1
    tile = 1.0
    halo = 0.5
    shape = (200, 200)
    damping = 1e-6
    #: tiles the first pass checks against the NumPy kernels; None: all
    oracle_tiles: Optional[int] = None
    #: untimed passes between the cold pass and the timed ones. A count,
    #: not a time: on a slower host a timed warm-up would leave the JIT
    #: colder and slow the timed passes twice over
    warmup_passes = 5
    #: the traced run adds a local[1] leg for the scaling efficiency
    scaling_leg = False

    def prepare(self, work: str, seed: int) -> None:
        """Generate or reuse the cached inputs (excluded from timing)."""
        self.seed = seed
        self.input_rows = self.pages_n
        self.expected = load_expected(self.name, seed)
        self.oracle_forces = None

    def pages(self, spark):
        raise NotImplementedError

    def page_text(self, spark) -> pd.Series:
        """The ``text`` column of the input pages."""
        return self.pages(spark).select("text").toPandas()["text"]

    def block_oracle(self, spark) -> pd.DataFrame:
        """The NumPy block mean of the input pages, built at the first
        check, after the cold pass's clock has stopped."""
        if self.oracle_forces is None:
            east, north = page_coords(self.page_text(spark))
            self.oracle_forces = block_mean_oracle(east, north, self.spacing)
        return self.oracle_forces

    def legs(self):
        """``(step, check)`` pairs run once in a traced run, after its
        passes: parts of the workload too slow for every pass."""
        return []

    def forces(self, spark, tracer, keep: Optional[dict] = None):
        """The block-mean force table; *keep* receives the geotagged points
        and the force table, for the checks."""
        from pyspark.sql import functions as F

        from verde_spark import block_mean
        from verde_spark.sources.pages import geotagged

        with tracer.layer("sources.pages"):
            pts = geotagged(self.pages(spark)).select(
                F.col("lon").alias("easting"), F.col("lat").alias("northing")
            )
            pts = tracer.materialize("sources.pages", pts.select("easting", "northing", field_col()))
        with tracer.layer("operators.blockreduce"):
            dec, _ = block_mean(pts, spacing=self.spacing, region=REGION, sort=False)
            dec = tracer.materialize("operators.blockreduce", dec)
        if keep is not None:
            keep.update(points=pts, forces=dec)
        return dec

    def run(self, spark, tracer) -> Outcome:
        from verde_spark.operators.spline import spline_solve_grid

        extra: dict = {}
        dec = self.forces(spark, tracer, keep=extra)
        with tracer.layer("operators.spline"):
            pdf = spline_solve_grid(
                dec, REGION, self.shape, tile_spacing=self.tile, halo=self.halo,
                damping=self.damping, weight_col="weight_scalars",
            ).toPandas()
            tracer.rows_out("operators.spline", len(pdf))
        grid, nodes = _sorted_grid(pdf, "prediction")
        return Outcome(grid, nodes, extra)

    def check(self, spark, out: Outcome, first: Optional[Outcome], thorough: bool) -> List[str]:
        """Failed checks of one pass: the grid, the geotagged row count and
        the force table against the NumPy block mean; *thorough* adds the
        NumPy tile oracle."""
        from pyspark.sql import functions as F

        fails = grid_fails(out, self.nodes, first, self.expected["grid_rmse"],
                           self.expected["recorded"].get("grid_rmse"))
        x = out.extra
        located = x.pop("points").where(
            F.col("easting").isNotNull() & F.col("northing").isNotNull()).count()
        if located != self.pages_n:
            fails.append(f"{located} geotagged pages, expected {self.pages_n}")
        x["forces_pdf"] = x.pop("forces").toPandas()
        fails += forces_fails(x["forces_pdf"], self.block_oracle(spark))
        if thorough and not fails:
            fails += self.tile_oracle(out, all_tiles=False)[0]
        return fails

    def tile_oracle(self, out: Outcome, all_tiles: bool):
        """NumPy kernels on the pass's force table (checked against the
        NumPy block mean): returns ``(failures, groups, kernel_s, flops)``."""
        forces = out.extra["forces_pdf"]
        groups = tile_groups(forces, out.nodes, self.tile, self.halo)
        tiles = sorted(groups.nodes)
        if not all_tiles and self.oracle_tiles is not None:
            pick = np.linspace(0, len(tiles) - 1, self.oracle_tiles).round().astype(int)
            tiles = [tiles[i] for i in pick]
        pred, seconds, flops = solve_tiles(forces, out.nodes, groups, tiles, self.damping)
        idx = np.fromiter(pred.keys(), dtype=np.int64)
        diff = np.abs(out.grid[idx] - np.fromiter(pred.values(), dtype="float64"))
        fails = []
        if idx.size == 0 or not diff.max() <= ORACLE_ATOL:
            worst = diff.max() if idx.size else float("nan")
            fails.append(f"spline grid differs from the NumPy tile oracle by {worst:.3g}")
        return fails, groups, seconds, flops


class Flagship(SplineWorkload):
    """The ROADMAP headline. Its traced run adds three legs on the same
    force table: the resumable spline (write, then resume), the kNN grid
    with its masks and zonal statistics, and blocked cross-validation."""

    name = "flagship"
    pages_n = 200_000
    nodes = 40_000
    knn_k = 10
    knn_shape = (100, 100)
    maxdist = 0.15

    def prepare(self, work, seed):
        super().prepare(work, seed)
        self.path = cached_pages(work, self.pages_n, seed)
        self.ckpt_root = os.path.join(work, "checkpoints")
        shutil.rmtree(self.ckpt_root, ignore_errors=True)
        self.ckpt_passes = 0

    def pages(self, spark):
        return spark.read.parquet(self.path)

    def page_text(self, spark):
        import pyarrow.parquet as pq

        return pq.read_table(self.path, columns=["text"]).column("text").to_pandas()

    def legs(self):
        return [
            (self.run_checkpoint, self.check_checkpoint),
            (self.run_knn, self.check_knn),
            (self.run_cv, self.check_cv),
        ]

    def leg_forces(self, spark, tracer, keep: Optional[dict] = None):
        """The block-mean force table, materialized outside every layer."""
        return tracer.materialize(None, self.forces(spark, NullTracer(), keep))

    def run_checkpoint(self, spark, tracer) -> Outcome:
        from verde_spark.operators.spline import spline_solve_grid_resumable

        extra: dict = {}
        dec = self.leg_forces(spark, tracer, keep=extra)
        self.ckpt_passes += 1
        path = os.path.join(self.ckpt_root, f"pass-{self.ckpt_passes}")
        args = dict(
            region=REGION, shape=self.shape, tile_spacing=self.tile, checkpoint_path=path,
            halo=self.halo, damping=self.damping, weight_col="weight_scalars",
        )
        with tracer.layer("checkpoint"):
            t0 = time.perf_counter()
            written = spline_solve_grid_resumable(dec, **args).toPandas()
            t1 = time.perf_counter()
            resumed = spline_solve_grid_resumable(dec, **args).toPandas()
            t2 = time.perf_counter()
            tracer.rows_out("checkpoint", len(written))
        grid, nodes = _sorted_grid(written, "prediction")
        extra.update({
            "write_s": t1 - t0, "resume_s": t2 - t1, "path": path,
            "written": written, "resumed": resumed,
        })
        return Outcome(grid, nodes, extra)

    def check_checkpoint(self, spark, out, first, thorough):
        """The checkpointed grid equals the fused grid of the first pass,
        and the resumed grid equals the written one row for row."""
        fails = self.check(spark, out, first, thorough=False)
        x = out.extra
        files = [os.path.join(d, f) for d, _, fs in os.walk(x.pop("path")) for f in fs]
        x["files_written"] = len(files)
        x["bytes_written"] = sum(os.path.getsize(f) for f in files)
        shutil.rmtree(self.ckpt_root, ignore_errors=True)
        key = ["tile", "iy", "ix"]
        written = x.pop("written").sort_values(key).reset_index(drop=True)
        resumed = x.pop("resumed").sort_values(key).reset_index(drop=True)
        if not written.equals(resumed):
            fails.append("resumed grid differs from the written grid")
        return fails

    def run_knn(self, spark, tracer) -> Outcome:
        """kNN grid, distance and hull masks, zonal statistics."""
        from verde_spark import KNeighbors, convexhull_mask, distance_mask, zonal_stats

        forces = self.leg_forces(spark, tracer).select("easting", "northing", "scalars")
        with tracer.layer("operators.neighbors"):
            grid = KNeighbors(k=self.knn_k).fit(forces).grid(
                spark, region=REGION, shape=self.knn_shape)
            grid = tracer.materialize("operators.neighbors", grid)
        with tracer.layer("operators.masks"):
            masked = convexhull_mask(forces, distance_mask(forces, grid, maxdist=self.maxdist))
            masked = tracer.materialize("operators.masks", masked)
        with tracer.layer("operators.polygons"):
            polys = spark.createDataFrame(
                [(name, [tuple(v) for v in verts]) for name, verts in POLYGONS.items()],
                "poly_id string, vertices array<struct<x:double,y:double>>",
            )
            zonal = zonal_stats(masked, polys, "scalars", stats=("count", "mean")).toPandas()
            tracer.rows_out("operators.polygons", len(zonal))
        pdf = masked.toPandas().sort_values(["iy", "ix"], kind="stable").reset_index(drop=True)
        return Outcome(pdf["scalars"].to_numpy("float64"), pdf[["iy", "ix", "easting", "northing"]], {
            "in_range": pdf["in_range"].to_numpy(bool),
            "in_hull": pdf["in_hull"].to_numpy(bool),
            "zonal": zonal.set_index("poly_id").sort_index(),
        })

    def check_knn(self, spark, out, first, thorough):
        """The kNN grid, masks and zonal statistics against NumPy oracles
        on every node, over the NumPy block-mean forces."""
        x = out.extra
        x["knn_rmse"] = rmse(out)
        fails = grid_fails(out, self.knn_shape[0] * self.knn_shape[1], None,
                           self.expected["knn_rmse"], self.expected["recorded"].get("knn_rmse"))
        if fails:
            return fails
        ne = out.nodes["easting"].to_numpy()
        nn = out.nodes["northing"].to_numpy()
        zonal = x["zonal"]
        for name, verts in POLYGONS.items():
            inside = in_polygon(ne, nn, verts)
            if name not in zonal.index or int(zonal.loc[name, "count_scalars"]) != int(inside.sum()):
                fails.append(f"zonal count of {name} differs from the even-odd oracle")
            elif abs(zonal.loc[name, "mean_scalars"] - out.grid[inside].mean()) > 1e-9 * AMPLITUDE:
                fails.append(f"zonal mean of {name} differs from the grid mean")
        forces = self.block_oracle(spark)
        means, dist = knn_oracle(forces, out.nodes, self.knn_k)
        if not np.allclose(out.grid, means, rtol=0, atol=1e-9 * AMPLITUDE):
            fails.append("kNN grid differs from the brute-force oracle")
        clear = np.abs(dist - self.maxdist) > 1e-12
        if not np.array_equal(x["in_range"][clear], dist[clear] <= self.maxdist):
            fails.append("distance mask differs from the brute-force oracle")
        hull = convex_hull(forces[["easting", "northing"]].to_numpy())
        margin = hull_margin(hull, ne, nn)
        clear = np.abs(margin) > 1e-9
        if not np.array_equal(x["in_hull"][clear], margin[clear] > 0):
            fails.append("hull mask differs from the monotone-chain oracle")
        return fails

    def cv(self):
        from verde_spark import BlockKFold

        return BlockKFold(spacing=1.0, n_splits=5, shuffle=True, random_state=0)

    def run_cv(self, spark, tracer) -> Outcome:
        from verde_spark import KNeighbors, cross_val_score

        forces = self.leg_forces(spark, tracer).select("easting", "northing", "scalars")
        with tracer.layer("model_selection"):
            scores = cross_val_score(KNeighbors(k=self.knn_k), forces, cv=self.cv())
            tracer.rows_out("model_selection", len(scores))
        return Outcome(None, None, {"fold_r2": [float(s) for s in scores], "forces": forces})

    def check_cv(self, spark, out, first, thorough):
        """Five folds; each fold's R² equals a brute-force kNN fit on the
        same split, scored in NumPy; the mean lies in its band, and the
        fold R² of recorded seeds equal the recorded values."""
        x = out.extra
        r2s = x["fold_r2"]
        if len(r2s) != 5:
            return [f"{len(r2s)} folds, expected 5"]
        fails = []
        for i, (train, test) in enumerate(self.cv().split(x.pop("forces"))):
            train, test = train.toPandas(), test.toPandas()
            want = r2(test["scalars"].to_numpy(), knn_oracle(train, test, self.knn_k)[0])
            if not abs(r2s[i] - want) <= 1e-9:
                fails.append(f"fold {i} R² {r2s[i]:.9g} differs from the NumPy fold's {want:.9g}")
        lo, hi = self.expected["cv_r2"]
        if not lo <= float(np.mean(r2s)) <= hi:
            fails.append(f"mean fold R² {np.mean(r2s):.6g} outside the recorded band [{lo}, {hi}]")
        rec = self.expected["recorded"].get("fold_r2")
        if rec is not None and not np.allclose(r2s, rec, rtol=0, atol=1e-6):
            fails.append(f"fold R² {r2s} differ from the recorded {rec}")
        return fails


class DenseTiles(SplineWorkload):
    """The north-rule scaling job: ~700 forces per tile with halos wider
    than the tiles. Its traced run adds a local[1] leg."""

    name = "dense_tiles"
    scaling_leg = True
    pages_n = 100_000
    spacing = 0.06
    tile = 0.5
    halo = 0.6
    shape = (400, 400)
    nodes = 160_000
    oracle_tiles = 6
    warmup_passes = 1

    def pages(self, spark):
        from verde_spark.sources.pages import synthesize_pages

        parts = spark.sparkContext.defaultParallelism * 2
        return synthesize_pages(spark, self.pages_n, region=REGION, seed=self.seed,
                                num_partitions=parts)


WORKLOADS = {w.name: w for w in (Flagship, DenseTiles)}
