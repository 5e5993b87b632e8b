"""Seeded inputs and the answers they must produce.

Everything here is pure Python/NumPy so the generators and checks can
be tested without a Spark session. The same ``seed`` always yields the
same cubes, request mix and operator order.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# time x lat x lon: 2.1 M float64 cells, which default_chunk_grid splits
# into 2 time slabs of 16 steps (~1 M cells each). Two chunks are enough
# for a series read to span every chunk and a time filter to prune one;
# a larger cube does not fit the run-time budget.
SHAPE = (32, 181, 360)
DIMS = ("time", "lat", "lon")
CHUNK_T = 16
MODELS = ("gfs", "ecmwf", "icon")

READ_KINDS = ("read_cell", "read_box", "read_slab", "read_series")
# One block of the request mix, shuffled per block: mostly reads, most
# of them small, then ~10% each of COW updates, catalog lookups and
# metadata reads. Fixed counts per block keep the mix of a short run the
# same whatever the seed.
BLOCK = {
    "read_cell": 3,
    "read_box": 3,
    "read_slab": 1,
    "read_series": 1,
    "update": 1,
    "lookup": 1,
    "read_meta": 1,
}
REQUEST_KINDS = tuple(BLOCK)
ZIPF_S = 1.2


def _tri(lo: int, hi: int) -> int:
    """Sum of the integers in [lo, hi)."""
    return (lo + hi - 1) * (hi - lo) // 2


@dataclass(frozen=True)
class Cube:
    """One forecast cube whose cells are ``a + b*time + c*lat + d*lon``.

    Integer-valued cells keep every partial sum an exact float64 (all
    sums stay far below 2**53), so scan and reduce results can be
    compared exactly whatever order Spark adds them in."""

    a: int
    b: int
    c: int
    d: int

    def box(self, box: tuple[tuple[int, int], ...]) -> np.ndarray:
        (t0, t1), (l0, l1), (o0, o1) = box
        t = np.arange(t0, t1, dtype=np.float64)[:, None, None]
        la = np.arange(l0, l1, dtype=np.float64)[None, :, None]
        lo = np.arange(o0, o1, dtype=np.float64)[None, None, :]
        return self.a + self.b * t + self.c * la + self.d * lo

    def full(self) -> np.ndarray:
        return self.box(tuple((0, n) for n in SHAPE))

    def box_sum(self, box: tuple[tuple[int, int], ...]) -> int:
        (t0, t1), (l0, l1), (o0, o1) = box
        nt, nl, no = t1 - t0, l1 - l0, o1 - o0
        return (
            self.a * nt * nl * no
            + self.b * _tri(t0, t1) * nl * no
            + self.c * _tri(l0, l1) * nt * no
            + self.d * _tri(o0, o1) * nt * nl
        )

    def value_sql(self) -> str:
        """The same cell formula as a Spark SQL expression."""
        return f"CAST({self.a} + {self.b} * time + {self.c} * lat + {self.d} * lon AS DOUBLE)"


def cubes(seed: int, n: int) -> list[Cube]:
    rng = np.random.default_rng((seed, 1))
    return [
        Cube(int(rng.integers(0, 100)), *(int(x) for x in rng.integers(1, 11, 3)))
        for _ in range(n)
    ]


def primary_attributes(k: int) -> dict:
    return {"model": MODELS[k % len(MODELS)], "member": k // len(MODELS)}


@dataclass(frozen=True)
class Request:
    kind: str
    array: int  # index into the workload's arrays
    bounds: tuple = ()  # numpy-style bounds passed to read_data / update
    patch: np.ndarray | None = None  # update payload

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Request)
            and (self.kind, self.array, self.bounds) == (other.kind, other.array, other.bounds)
            and (self.patch is None) == (other.patch is None)
            and (self.patch is None or np.array_equal(self.patch, other.patch))
        )


def _box_in_one_chunk(rng, max_t: int, max_l: int, max_o: int) -> tuple[slice, ...]:
    chunk = int(rng.integers(0, SHAPE[0] // CHUNK_T))
    nt = int(rng.integers(1, max_t + 1))
    nl = int(rng.integers(1, max_l + 1))
    no = int(rng.integers(1, max_o + 1))
    t0 = chunk * CHUNK_T + int(rng.integers(0, CHUNK_T - nt + 1))
    l0 = int(rng.integers(0, SHAPE[1] - nl + 1))
    o0 = int(rng.integers(0, SHAPE[2] - no + 1))
    return (slice(t0, t0 + nt), slice(l0, l0 + nl), slice(o0, o0 + no))


def serving_requests(seed: int, n_arrays: int, n_blocks: int) -> list[list[Request]]:
    """The closed-loop request sequence as blocks of ``BLOCK``, each in
    a seeded order, on arrays drawn Zipf-skewed over a seeded
    popularity order."""
    rng = np.random.default_rng((seed, 2))
    ranks = rng.permutation(n_arrays)
    pop = 1.0 / np.arange(1, n_arrays + 1) ** ZIPF_S
    pop /= pop.sum()
    blocks = []
    for _ in range(n_blocks):
        kinds = [k for k, n in BLOCK.items() for _ in range(n)]
        block = []
        for i in rng.permutation(len(kinds)):
            block.append(_request(rng, kinds[i], int(ranks[int(rng.choice(n_arrays, p=pop))])))
        blocks.append(block)
    return blocks


def _request(rng, kind: str, arr: int) -> Request:
    if kind == "read_cell":
        return Request(kind, arr, tuple(int(rng.integers(0, s)) for s in SHAPE))
    if kind == "read_box":
        return Request(kind, arr, _box_in_one_chunk(rng, 4, 16, 32))
    if kind == "read_slab":
        return Request(kind, arr, (int(rng.integers(0, SHAPE[0])),))
    if kind == "read_series":
        la, lo = int(rng.integers(0, SHAPE[1])), int(rng.integers(0, SHAPE[2]))
        return Request(kind, arr, (slice(None), la, lo))
    if kind == "update":
        box = _box_in_one_chunk(rng, 2, 8, 8)
        patch = rng.integers(-1000, 1000, tuple(s.stop - s.start for s in box)).astype(np.float64)
        return Request(kind, arr, box, patch)
    return Request(kind, arr)


def op_order(seed: int, ops: list[str]) -> list[str]:
    rng = np.random.default_rng((seed, 3))
    return [ops[i] for i in rng.permutation(len(ops))]


class Tally:
    """Counts attempted and failed operations. An operation fails when
    it raises or when its answer is wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok


def same_array(expected: np.ndarray, got) -> bool:
    got = np.asarray(got)
    return got.shape == expected.shape and np.array_equal(got, expected)


def same_sum(expected_count: int, expected_sum: int, count, total) -> bool:
    return int(count) == expected_count and total is not None and float(total) == float(expected_sum)
