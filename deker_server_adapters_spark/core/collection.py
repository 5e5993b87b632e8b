"""Collections: named containers with an array or varray schema.

Parity surface: reference collection_adapter.py — create / read /
delete / clear / iterate. Metadata lives as JSON beside the chunk
dataset (the 100 TB path swaps this for a metastore table; the layout
below keeps metadata one object per collection, like Deker's
collection resource).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import TYPE_CHECKING, Iterator

from pyspark.sql import SparkSession

from deker_server_adapters_spark.core.errors import (
    DekerCollectionAlreadyExistsError,
    DekerCollectionNotExistsError,
)
from deker_server_adapters_spark.core.schema import ArraySchema, VArraySchema, collection_schema
from deker_server_adapters_spark.core.storage import drop_cached

if TYPE_CHECKING:
    from deker_server_adapters_spark.core.array import ArrayAdapter
    from deker_server_adapters_spark.core.varray import VArrayAdapter

METADATA_VERSION = "0.2"  # parity: collection_adapter.py:20


class Warehouse:
    """Engine entry point: a SparkSession + a storage root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "collections"), exist_ok=True)

    @property
    def collections(self) -> "CollectionAdapter":
        return CollectionAdapter(self)

    def path_for(self, name: str) -> str:
        return os.path.join(self.root, "collections", name)


class Collection:
    def __init__(self, warehouse: Warehouse, name: str, schema: ArraySchema):
        self.warehouse = warehouse
        self.name = name
        self.schema = schema
        self.path = warehouse.path_for(name)

    @property
    def varray_schema(self) -> VArraySchema | None:
        return self.schema if isinstance(self.schema, VArraySchema) else None

    @property
    def array_schema(self) -> ArraySchema:
        return self.schema

    @property
    def arrays(self) -> "ArrayAdapter":
        from deker_server_adapters_spark.core.array import ArrayAdapter

        return ArrayAdapter(self)

    @property
    def varrays(self) -> "VArrayAdapter":
        from deker_server_adapters_spark.core.varray import VArrayAdapter

        if self.varray_schema is None:
            raise DekerCollectionNotExistsError(f"collection {self.name!r} is not a varray collection")
        return VArrayAdapter(self)

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "type": "varray" if self.varray_schema else "array",
            "schema": self.schema.to_dict(),
            "metadata_version": METADATA_VERSION,
        }


class CollectionAdapter:
    """create / read / delete / clear / iterate collections."""

    def __init__(self, warehouse: Warehouse):
        self.warehouse = warehouse

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.warehouse.path_for(name), "collection.json")

    def create(self, name: str, schema: ArraySchema) -> Collection:
        from deker_server_adapters_spark.core.array import init_index

        path = self.warehouse.path_for(name)
        if os.path.exists(self._meta_path(name)):
            raise DekerCollectionAlreadyExistsError(name)
        init_index(os.path.join(path, "meta"))
        os.makedirs(os.path.join(path, "chunks"), exist_ok=True)
        coll = Collection(self.warehouse, name, schema)
        with open(self._meta_path(name), "w") as f:
            json.dump(coll.as_dict(), f)
        return coll

    def read(self, name: str) -> Collection:
        mp = self._meta_path(name)
        if not os.path.exists(mp):
            raise DekerCollectionNotExistsError(name)
        with open(mp) as f:
            return Collection(self.warehouse, name, collection_schema(json.load(f)))

    def delete(self, collection: Collection) -> None:
        if not os.path.exists(self._meta_path(collection.name)):
            raise DekerCollectionNotExistsError(collection.name)
        shutil.rmtree(collection.path, ignore_errors=True)
        drop_cached(collection.path)

    def clear(self, collection: Collection) -> None:
        """Drop all (v)arrays but keep the collection (reference
        collection_adapter.py:83-104)."""
        from deker_server_adapters_spark.core.array import init_index

        if not os.path.exists(self._meta_path(collection.name)):
            raise DekerCollectionNotExistsError(collection.name)
        for sub in ("chunks", "meta"):
            shutil.rmtree(os.path.join(collection.path, sub), ignore_errors=True)
        drop_cached(collection.path)
        init_index(os.path.join(collection.path, "meta"))
        os.makedirs(os.path.join(collection.path, "chunks"), exist_ok=True)

    def __iter__(self) -> Iterator[dict]:
        base = os.path.join(self.warehouse.root, "collections")
        for name in sorted(os.listdir(base)):
            mp = self._meta_path(name)
            if os.path.exists(mp):
                with open(mp) as f:
                    yield json.load(f)
