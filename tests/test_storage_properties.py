"""Property-based tests for the chunk-grid/slice math and the
read/write round-trip: any shape, any grid, any bounds — the engine
must agree with numpy exactly."""

from __future__ import annotations

import pytest

import math

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from deker_server_adapters_spark.core.storage import ChunkGrid, normalize_bounds


@st.composite
def shape_and_grid(draw):
    rank = draw(st.integers(1, 4))
    shape = tuple(draw(st.integers(1, 12)) for _ in range(rank))
    splits = tuple(draw(st.integers(1, s)) for s in shape)
    return shape, splits


@st.composite
def shape_grid_bounds(draw):
    shape, splits = draw(shape_and_grid())
    bounds = []
    for s in shape:
        kind = draw(st.sampled_from(["int", "slice", "full"]))
        if kind == "int":
            bounds.append(draw(st.integers(0, s - 1)))
        elif kind == "full":
            bounds.append(slice(None))
        else:
            a = draw(st.integers(0, s - 1))
            b = draw(st.integers(a, s))
            bounds.append(slice(a, b))
    return shape, splits, tuple(bounds)


@given(shape_grid_bounds())
@settings(max_examples=200, deadline=None)
def test_overlapping_chunks_exact(case):
    """overlapping_chunks returns exactly the chunks a numpy mask says
    intersect the bounds — no more (pruning), no fewer (correctness)."""
    shape, splits, bounds = case
    grid = ChunkGrid(shape, splits)
    norm = normalize_bounds(bounds, shape)
    got = set(grid.overlapping_chunks(norm))
    want = set()
    for idx in range(grid.n_chunks):
        box = grid.chunk_box(idx)
        inter = all(
            max(a, s) < min(b, e)
            for (a, b), (s, e, _) in zip(box, norm)
            if True
        )
        # empty selection on any dim -> no chunk intersects
        if any(s >= e for s, e, _ in norm):
            inter = False
        if inter:
            want.add(idx)
    if any(s >= e for s, e, _ in norm):
        # degenerate empty bounds: engine may return a minimal cover;
        # read returns an empty array either way — skip equality
        return
    assert got == want, (shape, splits, bounds)


@given(shape_and_grid())
@settings(max_examples=100, deadline=None)
def test_chunk_boxes_tile_the_shape(case):
    shape, splits = case
    grid = ChunkGrid(shape, splits)
    seen = np.zeros(shape, dtype=int)
    for idx in range(grid.n_chunks):
        box = grid.chunk_box(idx)
        sel = tuple(slice(a, b) for a, b in box)
        seen[sel] += 1
    # every cell covered exactly once (no gaps, no overlaps)
    assert (seen == 1).all()
    # position <-> index roundtrip
    for idx in range(grid.n_chunks):
        assert grid.chunk_index(grid.chunk_position(idx)) == idx


@given(shape_grid_bounds(), st.randoms())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow
def test_read_slice_matches_numpy(spark, tmp_path_factory, case, rnd):
    """End-to-end: write through the chunk store, update a second
    random box, read any slice, get numpy's answer."""
    shape, splits, bounds = case
    if math.prod(shape) > 2000:
        return
    from deker_server_adapters_spark.core.storage import ChunkStore

    grid = ChunkGrid(shape, splits)
    rng = np.random.RandomState(rnd.randint(0, 10_000))
    ref = rng.rand(*shape)
    store = ChunkStore(spark, str(tmp_path_factory.mktemp("props")))
    store.write_array("a1", grid, ref)
    starts = [rnd.randint(0, s - 1) for s in shape]
    box = tuple(slice(a, rnd.randint(a, s)) for a, s in zip(starts, shape))
    values = -rng.rand(*ref[box].shape)
    store.update_slice("a1", grid, normalize_bounds(box, shape), values)
    ref[box] = values
    norm = normalize_bounds(bounds, shape)
    got = store.read_slice("a1", grid, norm, np.dtype("float64"))
    want = ref[bounds]
    np.testing.assert_allclose(got, want)


def _engine_producible(shape, splits) -> bool:
    """The engine only creates grids whose splits survive the
    splits -> chunk_shape -> splits roundtrip (vgrid divides evenly;
    default_chunk_grid derives splits as ceil(size/rows)). A redundant
    split count (e.g. 3 splits of size-2 chunks over 4 cells) would
    mint trailing empty chunks and is unreachable."""
    return all(
        g == math.ceil(s / math.ceil(s / g)) for s, g in zip(shape, splits)
    )


@given(shape_grid_bounds())
@settings(max_examples=200, deadline=None)
def test_datasource_pruning_matches_overlapping_chunks(case):
    """Planning-time chunk pruning in the reader must keep exactly the
    chunks ChunkGrid.overlapping_chunks keeps for the same bounds."""
    from deker_server_adapters_spark.sources.deker_datasource import DekerReader

    from hypothesis import assume

    shape, splits, bounds = case
    assume(_engine_producible(shape, splits))
    grid = ChunkGrid(shape, splits)
    norm = normalize_bounds(bounds, shape)
    reader = DekerReader.__new__(DekerReader)  # pure geometry, no meta IO
    reader.shape, reader.chunk_shape = shape, grid.chunk_shape
    reader.bounds = [[start, stop] for start, stop, _ in norm]
    got = {i for i in range(grid.n_chunks) if reader._chunk_overlaps(i)}
    assert got == set(grid.overlapping_chunks(norm))
