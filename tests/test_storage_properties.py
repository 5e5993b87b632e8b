"""Property-based tests for the chunk-grid/slice math and the
read/write round-trip: any shape, any grid, any bounds — the engine
must agree with numpy exactly."""

from __future__ import annotations

import pytest

import math
import os
import uuid

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
    reader.grid = grid
    reader.bounds = [[start, stop] for start, stop, _ in norm]
    got = {i for i in range(grid.n_chunks) if reader._chunk_overlaps(i)}
    assert got == set(grid.overlapping_chunks(norm))


# A store of 4 chunks (3x3, 3x2, 3x3, 3x2) for the delta-run property.
DELTA_SHAPE, DELTA_SPLITS = (6, 5), (2, 2)


@st.composite
def store_ops(draw):
    """One step against the store: an update or clear of a box, a
    ``deker``-style sparse append (row runs along the last dimension),
    a fold of one chunk dir, or ``compact``."""
    kind = draw(st.sampled_from(["update", "update", "clear", "append", "append", "fold", "compact"]))
    if kind == "fold":
        return kind, draw(st.integers(0, 3))
    if kind == "compact":
        return (kind,)
    lo = [draw(st.integers(0, s - 1)) for s in DELTA_SHAPE]
    hi = [draw(st.integers(a + 1, s)) for a, s in zip(lo, DELTA_SHAPE)]
    return kind, tuple(slice(a, b) for a, b in zip(lo, hi)), draw(st.integers(0, 2**16))


def _sparse_append(store, grid, box, seed, shadow) -> None:
    """Append random values for the rows of ``box`` the way the ``deker``
    writer does: one run per row piece inside a chunk, a file per chunk,
    staged and published through the one chunk writer."""
    from deker_server_adapters_spark.core import storage

    rng = np.random.RandomState(seed)
    runs: dict[int, list] = {}
    seq = storage.next_write_seq()
    for x in range(box[0].start, box[0].stop):
        for idx in grid.overlapping_chunks(normalize_bounds((x, box[1]), DELTA_SHAPE)):
            (_, _), (y0, y1) = grid.chunk_box(idx)
            a, b = max(y0, box[1].start), min(y1, box[1].stop)
            values = rng.rand(b - a)
            shadow[x, a:b] = values
            runs.setdefault(idx, []).append((seq + len(runs.get(idx, [])), [x, a], [1, b - a], values))
    prefix = storage.staged_prefix(uuid.uuid4().hex)
    staged = [
        storage.stage_chunk_file(
            storage.chunk_dir(store.path, "a1", idx), storage.encode_runs(r), f"{prefix}{idx}.parquet"
        )
        for idx, r in runs.items()
    ]
    storage.publish_staged([(p, storage.appended_name(p)) for p in staged], prefix)


@given(st.booleans(), st.lists(store_ops(), min_size=1, max_size=24))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_delta_runs_folds_and_compact_match_numpy(spark, tmp_path_factory, dense, ops):
    """Updates, clears, sparse appends, folds and ``compact`` in any
    order against a NumPy shadow. After every step ``read_slice``
    equals the shadow warm and after ``drop_cached``; after an update
    no dir it touched holds more than ``FOLD_FILES`` files; a folded
    dir holds no two overlapping runs."""
    from deker_server_adapters_spark.core import storage

    fill = -9.0
    grid = ChunkGrid(DELTA_SHAPE, DELTA_SPLITS)
    store = storage.ChunkStore(spark, str(tmp_path_factory.mktemp("delta")))
    shadow = np.full(DELTA_SHAPE, fill)
    if dense:
        shadow = np.random.RandomState(1).rand(*DELTA_SHAPE)
        store.write_array("a1", grid, shadow)
    dirs = [storage.chunk_dir(store.path, "a1", i) for i in range(grid.n_chunks)]
    full = normalize_bounds(slice(None), DELTA_SHAPE)

    def runs_of(d):
        return storage.ordered_runs(storage.read_chunk_files(storage.visible_chunk_files(d))[1])

    with pytest.MonkeyPatch.context() as m:
        m.setattr(storage, "FOLD_FILES", 3)  # fold often
        for op in ops:
            kind = op[0]
            if kind in ("update", "clear"):
                box, seed = op[1], op[2]
                values = fill if kind == "clear" else np.random.RandomState(seed).rand(
                    *shadow[box].shape
                )
                norm = normalize_bounds(box, DELTA_SHAPE)
                store.update_slice("a1", grid, norm, values)
                shadow[box] = values
                for i in grid.overlapping_chunks(norm):  # appends do not fold
                    assert len(storage.visible_chunk_files(dirs[i])) <= storage.FOLD_FILES
            elif kind == "append":
                _sparse_append(store, grid, op[1], op[2], shadow)
            elif kind == "fold":
                storage._merge_chunk_dir(dirs[op[1]])
            else:
                store.compact()
            if kind in ("fold", "compact"):
                for d in dirs if kind == "compact" else [dirs[op[1]]]:
                    assert len(storage.visible_chunk_files(d)) <= 1
                    assert not storage.runs_overlap(*storage.run_boxes(runs_of(d))), op
            for d in dirs:  # a dir left by a fold: no two runs overlap
                files = storage.visible_chunk_files(d)
                if len(files) == 1 and os.path.basename(files[0]).startswith("part-compact-"):
                    assert not storage.runs_overlap(*storage.run_boxes(runs_of(d)))
            got = store.read_slice("a1", grid, full, np.dtype("float64"), fill_value=fill)
            np.testing.assert_array_equal(got, shadow, err_msg=f"warm after {op}")
            storage.drop_cached(store.path)
            got = store.read_slice("a1", grid, full, np.dtype("float64"), fill_value=fill)
            np.testing.assert_array_equal(got, shadow, err_msg=f"cold after {op}")


@given(st.integers(1, 3), st.lists(st.tuples(st.integers(0, 5), st.integers(0, 3)), max_size=24))
@settings(max_examples=200, deadline=None)
def test_runs_overlap_matches_pairwise(ndim, corners):
    """The vectorised sweep agrees with a pairwise comparison of boxes,
    empty boxes included."""
    from deker_server_adapters_spark.core.storage import runs_overlap

    rng = np.random.RandomState(len(corners) * 7 + ndim)
    origins = np.array([[o + rng.randint(0, 3) for _ in range(ndim)] for o, _ in corners]).reshape(-1, ndim)
    shapes = np.array([[s + rng.randint(0, 2) for _ in range(ndim)] for _, s in corners]).reshape(-1, ndim)
    ends = origins + shapes
    want = any(
        np.all((origins[i] < ends[j]) & (origins[j] < ends[i]))
        for i in range(len(corners))
        for j in range(i + 1, len(corners))
    )
    assert runs_overlap(origins, shapes) == want
