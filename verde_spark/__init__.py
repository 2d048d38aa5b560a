"""verde_spark — a PySpark-native spatial gridding + tiling engine.

A from-scratch distributed re-expression of the capabilities of
fatiando/verde (reference: /root/reference, BSD-3): block aggregation
(BlockReduce/BlockMean), biharmonic-spline and kNN gridding, region
predicates and masks, blocked train/test splitting and cross-validation —
plus the page-table front end (geotag extraction, byte-identical text
extraction, canonical-url dedup, hierarchical cell index, salting and
resumable per-tile checkpoints) needed to run the same pipelines over
Common-Crawl-style page tables at 10^12-row scale.

Design: everything is a DataFrame-in / DataFrame-out operator built on
pyspark.sql builtin expressions (Catalyst-optimizable, whole-stage
codegen); NumPy enters only inside Arrow-vectorized pandas UDFs for the
dense per-tile solves. No RDDs, no per-row Python.

The package namespace holds only the gridding path.  The text-corpus
modules still in the tree are being deleted and are not part of the
package's API; ``import verde_spark`` does not load them, so no Python
worker that unpickles a gridding UDF imports them.
"""

from .geometry import (
    check_region,
    get_region,
    inside,
    pad_region,
    project_region,
    shape_to_spacing,
    spacing_to_size,
)
from .coordinates import (
    BlockGrid,
    block_split,
    grid_coordinates,
    line_coordinates,
    longitude_continuity,
    profile_coordinates,
    scatter_points,
)
from .synthetic import CheckerBoard, checkerboard_expr
from .operators.blockreduce import (
    BlockMean,
    BlockReduce,
    block_mean,
    block_reduce,
    variance_to_weights,
)
from .operators.trend import Trend, trend_fit, trend_predict_expr
from .operators.spline import Spline
from .operators.neighbors import KNeighbors, knn_join
from .operators.masks import convex_hull, convexhull_mask, distance_mask, inside_hull_expr
from .operators.chain import Chain
from .operators.cubic import Cubic
from .operators.linear import Linear
from .operators.scipygridder import ScipyGridder
from .operators.vector import Vector, VectorSpline2D
from .operators.splinecv import SplineCV
from .operators.polygons import point_in_polygon, polygon_join, rasterize, zonal_stats
from .functions.extract import extract_text, reference_extract_text
from .functions.urls import canonical_url, dedup_url, domain_of, top_domains
from .operators.projections import project_grid, project_points
from .checkpoint import TileCheckpoint, run_resumable
from .operators.windows import expanding_window, rolling_window
from .operators.neighbors import median_distance
from .sources.grid_io import grid_to_table, load_surfer, table_to_grid
from .utils import maxabs, minmax
from . import datasets, synthetic

# reference name for table_to_grid (verde utils.py:373-522)
make_xarray_grid = table_to_grid
from .model_selection import (
    BlockKFold,
    BlockShuffleSplit,
    KFoldRows,
    cross_val_score,
    r2_score,
    r2_score_multi,
    train_test_split,
)

__version__ = "0.1.0"

from .session import RECOMMENDED_CONF, make_session

__all__ = [
    "RECOMMENDED_CONF",
    "make_session",
    "BlockGrid",
    "BlockKFold",
    "BlockMean",
    "BlockReduce",
    "BlockShuffleSplit",
    "Chain",
    "CheckerBoard",
    "KNeighbors",
    "Cubic",
    "Linear",
    "canonical_url",
    "dedup_url",
    "domain_of",
    "extract_text",
    "point_in_polygon",
    "polygon_join",
    "rasterize",
    "top_domains",
    "reference_extract_text",
    "zonal_stats",
    "ScipyGridder",
    "Spline",
    "SplineCV",
    "TileCheckpoint",
    "Trend",
    "Vector",
    "VectorSpline2D",
    "block_mean",
    "expanding_window",
    "rolling_window",
    "median_distance",
    "grid_to_table",
    "load_surfer",
    "table_to_grid",
    "make_xarray_grid",
    "maxabs",
    "minmax",
    "block_reduce",
    "block_split",
    "check_region",
    "checkerboard_expr",
    "convex_hull",
    "convexhull_mask",
    "cross_val_score",
    "distance_mask",
    "get_region",
    "grid_coordinates",
    "inside",
    "inside_hull_expr",
    "knn_join",
    "line_coordinates",
    "longitude_continuity",
    "pad_region",
    "profile_coordinates",
    "project_region",
    "r2_score",
    "scatter_points",
    "shape_to_spacing",
    "spacing_to_size",
    "train_test_split",
    "trend_fit",
    "trend_predict_expr",
]


def test(doctest: bool = False, verbose: bool = False, coverage: bool = False):
    """Run the test suite with pytest (reference ``verde.test``,
    __init__.py:43-100; the ``figures`` option has no counterpart — no
    plotting stack here)."""
    import os

    import pytest as _pytest

    args = []
    if verbose:
        args.append("-vv")
    if coverage:
        args += ["--cov=verde_spark", "--cov-report=term-missing"]
    if doctest:
        args.append("--doctest-modules")
    args.append(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    )
    status = _pytest.main(args)
    if status != 0:
        raise AssertionError(f"pytest returned {status}")
