"""VArrays: virtual arrays split by a vgrid into chunk arrays.

Parity surface: reference varray_adapter.py + the vid/v_position
chunk-array model (utils/hashing.py:8-21 joins v_position with dashes;
array_adapter.py:41-77 deletes chunk arrays by vid).

Storage: the varray's cells live in ONE chunk dataset whose grid IS
the vgrid, so a subset read/write prunes to exactly the overlapped
vgrid cells (what the reference achieves by routing chunk arrays to
different nodes). The chunk arrays are exposed as view objects with
``vid``/``v_position`` primary attributes and registered in the meta
store, so every array-adapter lookup works on them.
"""

from __future__ import annotations

import json
import uuid
from typing import Any, Iterator

import numpy as np
from pyspark.sql import DataFrame

from deker_server_adapters_spark.core.array import Array, ArrayAdapter, remove_meta, write_meta
from deker_server_adapters_spark.core.collection import Collection
from deker_server_adapters_spark.core.errors import DekerArrayNotExistsError
from deker_server_adapters_spark.core.schema import VArraySchema
from deker_server_adapters_spark.core.storage import Bounds, ChunkGrid, normalize_bounds, resolve_bounds


class VArray:
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
    def schema(self) -> VArraySchema:
        s = self.collection.varray_schema
        assert s is not None
        return s

    @property
    def shape(self) -> tuple[int, ...]:
        return self.schema.shape

    @property
    def dtype(self) -> np.dtype:
        return self.schema.np_dtype

    @property
    def _adapter(self) -> "VArrayAdapter":
        return VArrayAdapter(self.collection)

    def __getitem__(self, bounds: Bounds) -> np.ndarray:
        return self._adapter.read_data(self, bounds)

    def read_data(self, bounds: Bounds = slice(None)) -> np.ndarray:
        return self._adapter.read_data(self, bounds)

    def update(self, bounds: Bounds, data) -> None:
        self._adapter.update(self, bounds, data)

    def clear(self, bounds: Bounds = slice(None)) -> None:
        self._adapter.clear(self, bounds)

    def cell_df(self) -> DataFrame:
        return ArrayAdapter(self.collection).cells_df([self.id]).drop("array_id")

    def meta(self) -> dict:
        return {
            "id": self.id,
            "primary_attributes": self.primary_attributes,
            "custom_attributes": self.custom_attributes,
            "vid": self.id,
        }

    def chunk_arrays(self) -> list[Array]:
        """The vgrid chunk arrays (vid + v_position views)."""
        adapter = ArrayAdapter(self.collection)
        return [
            adapter._from_meta(m)
            for m in adapter
            if m["primary_attributes"].get("vid") == self.id
        ]


class VArrayAdapter:
    """Varray CRUD + subset ops; same surface as ArrayAdapter."""

    def __init__(self, collection: Collection):
        self.collection = collection
        self.spark = collection.warehouse.spark
        self._arrays = ArrayAdapter(collection)
        self.store = self._arrays.store

    def _grid(self) -> ChunkGrid:
        return ChunkGrid.for_schema(self.collection.schema)

    def create(
        self,
        primary_attributes: dict[str, Any] | None = None,
        custom_attributes: dict[str, Any] | None = None,
        id_: str | None = None,
        data: np.ndarray | None = None,
    ) -> VArray:
        schema = self.collection.varray_schema
        assert schema is not None
        if data is not None:
            data = np.asarray(data, dtype=schema.np_dtype)
            if data.shape != schema.shape:
                raise ValueError(f"data shape {data.shape} != schema shape {schema.shape}")
        varray = self._register(primary_attributes, custom_attributes, id_)
        self.store.write_array(varray.id, self._grid(), schema.fill_value if data is None else data)
        return varray

    def create_from_cells(
        self,
        cells: DataFrame,
        value_col: str = "value",
        primary_attributes: dict[str, Any] | None = None,
        custom_attributes: dict[str, Any] | None = None,
        id_: str | None = None,
    ) -> VArray:
        """Distributed varray build from a long-format DataFrame; the
        vgrid IS the chunk grid. Every cell is written once."""
        schema = self.collection.varray_schema
        assert schema is not None
        varray = self._register(primary_attributes, custom_attributes, id_)
        self.store.write_from_cells(
            varray.id,
            self._grid(),
            cells,
            [d.name for d in schema.dimensions],
            value_col,
            schema.fill_value,
        )
        return varray

    def _register(
        self, primary_attributes: dict | None, custom_attributes: dict | None, id_: str | None
    ) -> VArray:
        """Write the varray's meta and its chunk arrays' ``vid`` /
        ``v_position`` views (reference model)."""
        vid = id_ or str(uuid.uuid4())
        varray = VArray(self.collection, vid, primary_attributes or {}, custom_attributes or {})
        meta_dir = self._arrays._meta_dir()
        write_meta(meta_dir, {**varray.meta(), "is_varray": True})
        grid = self._grid()
        for idx in range(grid.n_chunks):
            write_meta(
                meta_dir,
                {
                    "id": f"{vid}:{idx}",
                    "primary_attributes": {"vid": vid, "v_position": list(grid.chunk_position(idx))},
                    "custom_attributes": {},
                },
            )
        return varray

    def _varray_meta(self, id_: str) -> dict | None:
        """The varray's own meta file, or None when it is missing or
        belongs to an array."""
        try:
            with open(self._arrays._meta_path(id_)) as f:
                m = json.load(f)
        except FileNotFoundError:
            return None
        return m if m.get("is_varray") else None

    def read_meta(self, varray: VArray) -> dict:
        m = self._varray_meta(varray.id)
        if m is None:
            raise DekerArrayNotExistsError(varray.id)
        return m

    def update_meta_custom_attributes(self, varray: VArray, attributes: dict) -> None:
        meta = self.read_meta(varray)
        meta["custom_attributes"].update(attributes)
        write_meta(self._arrays._meta_dir(), meta)
        varray.custom_attributes = meta["custom_attributes"]

    def delete(self, varray: VArray) -> None:
        """Delete the varray: its chunk dataset and every chunk-array
        view (reference deletes all arrays with this vid)."""
        self._arrays.delete_all_by_vid(varray.id)
        remove_meta(self._arrays._meta_dir(), varray.id)
        self.store.delete_array(varray.id)

    def get_by_id(self, id_: str) -> VArray | None:
        m = self._varray_meta(id_)
        if m is None:
            return None
        return VArray(self.collection, m["id"], m["primary_attributes"], m["custom_attributes"])

    def __iter__(self) -> Iterator[dict]:
        for m in self._arrays:
            if m.get("is_varray"):
                yield m

    def read_data(self, varray: VArray, bounds: Bounds) -> np.ndarray:
        norm = normalize_bounds(resolve_bounds(bounds, varray.schema.dimensions), varray.shape)
        return self.store.read_slice(
            varray.id, self._grid(), norm, varray.dtype,
            fill_value=varray.schema.fill_value,
        )

    def update(self, varray: VArray, bounds: Bounds, data) -> None:
        norm = normalize_bounds(resolve_bounds(bounds, varray.schema.dimensions), varray.shape)
        self.store.update_slice(varray.id, self._grid(), norm, data)

    def clear(self, varray: VArray, bounds: Bounds = slice(None)) -> None:
        self.update(varray, bounds, varray.schema.fill_value)
