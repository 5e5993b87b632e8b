"""Arrays: CRUD + N-d subset read/update/clear.

Parity surface: reference base.py ServerArrayAdapterMixin —
create, read_meta, update_meta_custom_attributes, delete,
read_data(bounds), update(bounds, data), clear(bounds),
get_by_id, get_by_primary_attributes, iterate, delete_all_by_vid
(array_adapter.py:41-77).

Catalog layout under ``<collection>/meta``: one ``<id>.json`` per
array or varray (``:`` in chunk-view ids becomes ``__``), which
``read_catalog`` lists and loads on the driver for iteration, vid
deletes, the index build, ``meta_df`` and ``lookup_df``; and a
primary-key index, ``_primary/<md5 of the canonical key>/<meta
file name>``, of empty markers, which serves
``get_by_primary_attributes`` on the driver. The canonical key is
``json.dumps(primary_attributes, sort_keys=True)``; arrays with no
primary attributes are not indexed. ``_primary/.complete`` marks an
index that covers the catalog. Every meta write goes through
``write_meta`` (marker first, then the meta through a temp file and
``os.replace``), every removal through ``remove_meta`` (meta first,
then the marker), so a marker without its meta is the only stale state
a lookup can meet, and it skips it.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from typing import Any, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deker_server_adapters_spark.core.collection import Collection
from deker_server_adapters_spark.core.errors import (
    DekerArrayNotExistsError,
    DekerSubsetError,
)
from deker_server_adapters_spark.core.schema import validate_attributes
from deker_server_adapters_spark.core.storage import (
    Bounds,
    ChunkGrid,
    ChunkStore,
    normalize_bounds,
    require_session,
    resolve_bounds,
)


PRIMARY_INDEX = "_primary"
INDEX_COMPLETE = ".complete"


def meta_file_name(id_: str) -> str:
    # chunk-array view ids are "vid:idx"; keep filenames filesystem-safe
    return f"{id_.replace(':', '__')}.json"


def _key_dir(meta_dir: str, key: str) -> str:
    digest = hashlib.md5(key.encode()).hexdigest()
    return os.path.join(meta_dir, PRIMARY_INDEX, digest)


def _canonical_key(primary_attributes: dict) -> str:
    return json.dumps(primary_attributes, sort_keys=True)


def _mark(meta_dir: str, meta: dict) -> None:
    if meta.get("primary_attributes"):
        d = _key_dir(meta_dir, _canonical_key(meta["primary_attributes"]))
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, meta_file_name(meta["id"])), "a").close()


def init_index(meta_dir: str) -> None:
    """Lay down an empty, complete index in a new or cleared catalog."""
    os.makedirs(os.path.join(meta_dir, PRIMARY_INDEX), exist_ok=True)
    open(os.path.join(meta_dir, PRIMARY_INDEX, INDEX_COMPLETE), "a").close()


def write_meta(meta_dir: str, meta: dict) -> None:
    """Publish an array's meta: its index marker first, then the JSON
    through a dot-prefixed temp file and ``os.replace``, so a write
    that fails (an unserializable attribute, a full disk) leaves the
    previous meta whole. Pure file I/O: the ``deker`` writer's commit
    hook calls it without a SparkSession."""
    text = json.dumps(meta)
    _mark(meta_dir, meta)
    name = meta_file_name(meta["id"])
    tmp = os.path.join(meta_dir, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, os.path.join(meta_dir, name))


def remove_meta(meta_dir: str, id_: str) -> bool:
    """Unpublish an array's meta, then its index marker. False when
    the array has no meta."""
    path = os.path.join(meta_dir, meta_file_name(id_))
    try:
        with open(path) as f:
            primary = json.load(f).get("primary_attributes")
    except FileNotFoundError:
        return False
    except ValueError:  # unparsable meta: no key to unmark
        primary = None
    os.remove(path)
    if primary:
        marker = os.path.join(_key_dir(meta_dir, _canonical_key(primary)), meta_file_name(id_))
        try:
            os.remove(marker)
        except FileNotFoundError:
            pass
    return True


def read_catalog(meta_dir: str) -> list[dict]:
    """Every meta of the catalog, sorted by id: ``meta_dir`` listed
    once, each regular ``*.json`` file loaded (temps end in ``.tmp``,
    the index is a directory). A file that vanishes, does not parse or
    has no ``id`` is skipped; a missing ``meta_dir`` is an empty
    catalog. Pure file I/O."""
    try:
        with os.scandir(meta_dir) as it:
            paths = [e.path for e in it if e.name.endswith(".json") and e.is_file()]
    except FileNotFoundError:
        return []
    metas = []
    for path in paths:
        try:
            with open(path) as f:
                meta = json.load(f)
        except (FileNotFoundError, ValueError):
            continue
        if isinstance(meta, dict) and meta.get("id") is not None:
            metas.append(meta)
    return sorted(metas, key=lambda m: str(m["id"]))


def find_meta(meta_dir: str, primary_attributes: dict) -> dict | None:
    """The meta of the array whose full primary key equals
    ``primary_attributes``, from the index alone: one key directory
    listed, its metas opened in sorted file-name order, the first whose
    key matches returned. A marker whose meta is gone or now differs is
    skipped; a partial or unknown key is a miss."""
    try:
        key = _canonical_key(primary_attributes)
    except TypeError:  # a value no stored (JSON) meta can hold
        return None
    try:
        with os.scandir(_key_dir(meta_dir, key)) as it:
            names = sorted(e.name for e in it)
    except FileNotFoundError:
        return None
    for name in names:
        try:
            with open(os.path.join(meta_dir, name)) as f:
                meta = json.load(f)
        except (FileNotFoundError, ValueError):
            continue
        if _canonical_key(meta.get("primary_attributes") or {}) == key:
            return meta
    return None


class Array:
    def __init__(
        self,
        collection: Collection,
        id_: str,
        primary_attributes: dict[str, Any],
        custom_attributes: dict[str, Any],
    ):
        self.collection = collection
        self.id = id_
        self.primary_attributes = primary_attributes
        self.custom_attributes = custom_attributes

    @property
    def schema(self):
        return self.collection.array_schema

    @property
    def shape(self) -> tuple[int, ...]:
        return self.schema.shape

    @property
    def dtype(self) -> np.dtype:
        return self.schema.np_dtype

    @property
    def _adapter(self) -> "ArrayAdapter":
        return ArrayAdapter(self.collection)

    def __getitem__(self, bounds: Bounds) -> np.ndarray:
        return self.read_data(bounds)

    def read_data(self, bounds: Bounds = slice(None)) -> np.ndarray:
        return self._adapter.read_data(self, bounds)

    def update(self, bounds: Bounds, data) -> None:
        self._adapter.update(self, bounds, data)

    def clear(self, bounds: Bounds = slice(None)) -> None:
        self._adapter.clear(self, bounds)

    def cell_df(self) -> DataFrame:
        """This array as a long-format DataFrame (dims..., value), one
        row per written cell, last-write-wins (read_data semantics)."""
        require_session(self.collection.warehouse.spark, "cell_df")
        return self._adapter.cells_df([self.id]).drop("array_id")

    def reduce(self, dim: str, fn: str = "mean") -> DataFrame:
        """Aggregate out one dimension (xarray-style): returns a
        DataFrame keyed by the remaining dims with fn(value).
        Runs as one Catalyst plan over the chunk dataset."""
        require_session(self.collection.warehouse.spark, "reduce")
        names = [d.name for d in self.schema.dimensions]
        if dim not in names:
            raise KeyError(f"unknown dimension {dim!r}; have {names}")
        others = [n for n in names if n != dim]
        agg = {
            "mean": F.avg("value"),
            "sum": F.sum("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "count": F.count("value"),
        }[fn]
        return self.cell_df().groupBy(*others).agg(agg.alias(fn))

    def meta(self) -> dict:
        return {
            "id": self.id,
            "primary_attributes": self.primary_attributes,
            "custom_attributes": self.custom_attributes,
        }


class ArrayAdapter:
    """Server-side array operations, re-expressed on the chunk store."""

    def __init__(self, collection: Collection, cluster_mode: bool = False):
        self.collection = collection
        self.spark = collection.warehouse.spark
        self.store = ChunkStore(self.spark, collection.path)
        self.cluster_mode = cluster_mode

    # -- metadata ----------------------------------------------------------

    def _meta_dir(self) -> str:
        return os.path.join(self.collection.path, "meta")

    def _meta_path(self, id_: str) -> str:
        return os.path.join(self._meta_dir(), meta_file_name(id_))

    def _grid(self) -> ChunkGrid:
        return ChunkGrid.for_schema(self.collection.schema)

    # -- CRUD ----------------------------------------------------------------

    def create(
        self,
        primary_attributes: dict[str, Any] | None = None,
        custom_attributes: dict[str, Any] | None = None,
        id_: str | None = None,
        data: np.ndarray | None = None,
    ) -> Array:
        schema = self.collection.array_schema
        primary = primary_attributes or {}
        custom = custom_attributes or {}
        validate_attributes(schema, primary, custom)
        array = Array(self.collection, id_ or str(uuid.uuid4()), primary, custom)
        if data is not None:
            data = np.asarray(data, dtype=schema.np_dtype)
            if data.shape != schema.shape:
                raise ValueError(f"data shape {data.shape} != schema shape {schema.shape}")
        write_meta(self._meta_dir(), array.meta())
        self.store.write_array(array.id, self._grid(), schema.fill_value if data is None else data)
        return array

    def create_from_cells(
        self,
        cells: "DataFrame",
        value_col: str = "value",
        primary_attributes: dict[str, Any] | None = None,
        custom_attributes: dict[str, Any] | None = None,
        id_: str | None = None,
    ) -> Array:
        """Create an array from a long-format DataFrame whose dim-index
        columns are named after the schema dimensions — fully
        distributed (no driver-side ndarray)."""
        require_session(self.spark, "create_from_cells")
        schema = self.collection.array_schema
        primary = primary_attributes or {}
        custom = custom_attributes or {}
        validate_attributes(schema, primary, custom)
        array = Array(self.collection, id_ or str(uuid.uuid4()), primary, custom)
        write_meta(self._meta_dir(), array.meta())
        self.store.write_from_cells(
            array.id,
            self._grid(),
            cells,
            [d.name for d in schema.dimensions],
            value_col,
            schema.fill_value,
        )
        return array

    def read_meta(self, array: Array) -> dict:
        mp = self._meta_path(array.id)
        if not os.path.exists(mp):
            raise DekerArrayNotExistsError(array.id)
        with open(mp) as f:
            return json.load(f)

    def update_meta_custom_attributes(self, array: Array, attributes: dict) -> None:
        meta = self.read_meta(array)
        meta["custom_attributes"].update(attributes)
        write_meta(self._meta_dir(), meta)
        array.custom_attributes = meta["custom_attributes"]

    def delete(self, array: Array) -> None:
        if not remove_meta(self._meta_dir(), array.id):
            raise DekerArrayNotExistsError(array.id)
        self.store.delete_array(array.id)

    def delete_all_by_vid(self, vid: str, collection: Collection | None = None) -> None:
        """Delete every array whose primary attribute vid matches
        (reference array_adapter.py:41-77). The chunk arrays hold the
        varray's data, so their shared chunk dataset goes with them.
        Victims are picked from ``read_catalog`` on the driver."""
        for meta in read_catalog(self._meta_dir()):
            if (meta.get("primary_attributes") or {}).get("vid") == vid:
                self.delete(self._from_meta(meta))
        self.store.delete_array(vid)

    # -- lookup ----------------------------------------------------------------

    def _from_meta(self, meta: dict) -> Array:
        return Array(
            self.collection, meta["id"], meta["primary_attributes"], meta["custom_attributes"]
        )

    def get_by_id(self, id_: str) -> Array | None:
        if self.cluster_mode and self.collection.array_schema.primary_attributes:
            # parity with reference base.py:402-408: the routing hash is
            # derived from primary attributes when the schema has them,
            # so an id can't locate its owner — refuse, like the server.
            from deker_server_adapters_spark.core.errors import (
                FilteringByIdInClusterIsForbidden,
            )

            raise FilteringByIdInClusterIsForbidden(
                "id lookups are forbidden in cluster mode when the schema has primary attributes"
            )
        mp = self._meta_path(id_)
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            return self._from_meta(json.load(f))

    def lookup_df(self, primary_attributes: dict) -> DataFrame | None:
        """The catalog filtered to arrays whose primary attributes
        include the given key-values: a Catalyst filter over
        ``meta_df``. This is the filter over a subset of the attributes;
        a point lookup by the full key is ``get_by_primary_attributes``.
        Returns None when the catalog is empty or a wanted key exists
        on no array (reference base.py:333-434, minus the per-array
        HTTP round trips)."""
        df = self._catalog_df("lookup_df")
        if df is None:
            return None
        pa_type = None
        for field in df.schema.fields:
            if field.name == "primary_attributes":
                pa_type = field.dataType
        known = set(pa_type.fieldNames()) if hasattr(pa_type, "fieldNames") else set()
        for k in sorted(primary_attributes):
            if k not in known:
                return None
            df = df.filter(
                F.col(f"primary_attributes.`{k}`").eqNullSafe(F.lit(primary_attributes[k]))
            )
        return df

    def get_by_primary_attributes(self, primary_attributes: dict) -> Array | None:
        """The array whose full primary key equals ``primary_attributes``
        (reference base.py:333-382), served on the driver from the
        primary-key index with no Spark job; among arrays sharing the
        key, the one whose meta file name sorts first. A partial key is
        a miss (filter by a subset through ``lookup_df``). A catalog
        written before the index existed is indexed once, from
        ``read_catalog``, on its first lookup."""
        meta_dir = self._meta_dir()
        if not os.path.exists(os.path.join(meta_dir, PRIMARY_INDEX, INDEX_COMPLETE)):
            if not os.path.isdir(meta_dir):
                return None
            self._build_index()
        meta = find_meta(meta_dir, primary_attributes)
        return None if meta is None else self._from_meta(meta)

    def _build_index(self) -> None:
        """Mark every cataloged array, then flag the index complete."""
        meta_dir = self._meta_dir()
        for meta in read_catalog(meta_dir):
            _mark(meta_dir, meta)
        init_index(meta_dir)

    def __iter__(self) -> Iterator[dict]:
        """Every array meta, sorted by id, each as ``read_meta`` returns
        it (reference base.py:436-453 pages the server)."""
        yield from read_catalog(self._meta_dir())

    def _catalog_df(self, op: str) -> DataFrame | None:
        """``read_catalog``'s metas, as JSON texts, parsed by Spark's
        JSON reader, which infers one schema over them, as a scan of
        the meta files would; None for an empty catalog."""
        spark = require_session(self.spark, op)
        texts = [json.dumps(m) for m in read_catalog(self._meta_dir())]
        if not texts:
            return None
        return spark.read.json(spark.sparkContext.parallelize(texts))

    def meta_df(self) -> DataFrame:
        """The array catalog as a DataFrame (id + attribute structs), for
        metadata queries in Spark (find-by-attribute over many arrays).

        An existing collection with no arrays yet is a legitimate
        catalog state and yields an EMPTY DataFrame (id + empty
        attribute structs); the exception is reserved for a collection
        whose meta dir does not exist at all (ADVICE r5)."""
        df = self._catalog_df("meta_df")
        if df is not None:
            return df
        if os.path.isdir(self._meta_dir()):
            return self.spark.createDataFrame(
                [],
                "id string, primary_attributes struct<>, custom_attributes struct<>",
            )
        raise DekerArrayNotExistsError(
            f"no array metadata under {self._meta_dir()}"
        )

    def cells_df(self, array_ids: list[str] | None = None) -> DataFrame:
        """Cross-array long view: (array_id, dims..., value) for many
        arrays (every array when ``array_ids`` is None) in one Catalyst
        plan, last-write-wins per cell like ``read_data`` — ensemble
        statistics across arrays are a groupBy away, with partition
        pruning when ids are given (``ChunkStore.cell_df``)."""
        require_session(self.spark, "cells_df")
        dim_names = [d.name for d in self.collection.array_schema.dimensions]
        return self.store.cell_df(array_ids, dim_names)

    # -- data ----------------------------------------------------------------

    def _resolve(self, array: Array, bounds: Bounds) -> tuple[str, list[tuple[int, int, bool]]]:
        """The stored array ``bounds`` address and the normalized box in
        it. A chunk-array view ("vid:idx") addresses one vgrid cell of
        its parent varray's dataset, so its box is shifted to that
        cell's origin."""
        dims = array.schema.dimensions
        if ":" not in array.id:
            return array.id, normalize_bounds(resolve_bounds(bounds, dims), array.shape)
        vid, idx = array.id.rsplit(":", 1)
        box = self._grid().chunk_box(int(idx))
        norm = normalize_bounds(resolve_bounds(bounds, dims), tuple(b - a for a, b in box))
        return vid, [(a + lo, b + lo, sq) for (a, b, sq), (lo, _) in zip(norm, box)]

    @staticmethod
    def _strip_steps(bounds: Bounds):
        """Split stepped slices into (contiguous bounds, post-selector).
        The chunk store reads the contiguous box; stepping is applied on
        the assembled ndarray (reads at most the box, never the array)."""
        if not isinstance(bounds, tuple):
            bounds = (bounds,)
        stripped, post = [], []
        for b in bounds:
            if isinstance(b, slice) and b.step not in (None, 1):
                if not isinstance(b.step, int) or b.step <= 0:
                    raise DekerSubsetError(f"unsupported step {b.step!r}")
                stripped.append(slice(b.start, b.stop))
                post.append(slice(None, None, b.step))
            else:
                stripped.append(b)
                if isinstance(b, slice):
                    post.append(slice(None))
                # int bounds squeeze the axis; nothing to post-select
        return tuple(stripped), tuple(post)

    def read_data(self, array: Array, bounds: Bounds) -> np.ndarray:
        bounds, post = self._strip_steps(bounds)
        if any(p != slice(None) for p in post):
            return self.read_data(array, bounds)[post]
        array_id, norm = self._resolve(array, bounds)
        return self.store.read_slice(
            array_id, self._grid(), norm, array.dtype,
            fill_value=self.collection.array_schema.fill_value,
        )

    def update(self, array: Array, bounds: Bounds, data) -> None:
        array_id, norm = self._resolve(array, bounds)
        self.store.update_slice(array_id, self._grid(), norm, data)

    def clear(self, array: Array, bounds: Bounds = slice(None)) -> None:
        """Reset a subset to the schema fill value (reference
        base.py:305-311 models clear as an empty-body update)."""
        self.update(array, bounds, self.collection.array_schema.fill_value)

    def is_deleted(self, array: Array) -> bool:
        return not os.path.exists(self._meta_path(array.id))
