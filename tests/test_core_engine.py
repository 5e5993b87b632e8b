"""Array-engine tests, modeled on the reference's test suite
(tests/test_cases/test_common/test_{array,collection,varray}_adapter.py):
collection CRUD, array CRUD + attribute updates, slice read/write
round-trips vs numpy ground truth, varray spanning + vid deletes.
"""

from __future__ import annotations

import numpy as np
import pytest

from deker_server_adapters_spark.core import (
    Array,
    ArraySchema,
    AttributeSchema,
    DimensionSchema,
    VArraySchema,
    Warehouse,
)
from deker_server_adapters_spark.core.errors import (
    DekerCollectionAlreadyExistsError,
    DekerCollectionNotExistsError,
    DekerDataPointsLimitError,
    DekerSubsetError,
    DekerValidationError,
)


@pytest.fixture()
def warehouse(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


SCHEMA = ArraySchema(
    dtype="float64",
    dimensions=(DimensionSchema("x", 20), DimensionSchema("y", 12)),
    attributes=(
        AttributeSchema("station", "string", primary=True),
        AttributeSchema("comment", "string", primary=False),
    ),
)

VSCHEMA = VArraySchema(
    dtype="float64",
    dimensions=(DimensionSchema("x", 12), DimensionSchema("y", 8)),
    vgrid=(3, 2),
)


class TestCollections:
    def test_create_read_delete(self, warehouse):
        coll = warehouse.collections.create("weather", SCHEMA)
        again = warehouse.collections.read("weather")
        assert again.schema == SCHEMA
        with pytest.raises(DekerCollectionAlreadyExistsError):
            warehouse.collections.create("weather", SCHEMA)
        warehouse.collections.delete(coll)
        with pytest.raises(DekerCollectionNotExistsError):
            warehouse.collections.read("weather")

    def test_iterate_and_clear(self, warehouse):
        warehouse.collections.create("a", SCHEMA)
        c2 = warehouse.collections.create("b", SCHEMA)
        assert [c["name"] for c in warehouse.collections] == ["a", "b"]
        c2.arrays.create({"station": "s1"})
        assert len(list(c2.arrays)) == 1
        warehouse.collections.clear(c2)
        assert len(list(c2.arrays)) == 0
        assert warehouse.collections.read("b").schema == SCHEMA


class TestArrays:
    def test_create_fill_and_read(self, warehouse):
        coll = warehouse.collections.create("c", SCHEMA)
        arr = coll.arrays.create({"station": "s1"})
        data = arr.read_data()
        assert data.shape == (20, 12)
        assert (data == 0.0).all()

    def test_roundtrip_and_slices(self, warehouse):
        coll = warehouse.collections.create("c", SCHEMA)
        rng = np.random.RandomState(42)
        ref = rng.rand(20, 12)
        arr = coll.arrays.create({"station": "s1"}, data=ref)
        np.testing.assert_allclose(arr.read_data(), ref)
        np.testing.assert_allclose(arr[3:9, 2:5], ref[3:9, 2:5])
        np.testing.assert_allclose(arr[7], ref[7])
        np.testing.assert_allclose(arr[7, 3], ref[7, 3])
        np.testing.assert_allclose(arr[:, 4], ref[:, 4])

    def test_update_and_clear_subsets(self, warehouse):
        coll = warehouse.collections.create("c", SCHEMA)
        rng = np.random.RandomState(1)
        ref = rng.rand(20, 12)
        arr = coll.arrays.create({"station": "s1"}, data=ref)
        patch = np.full((4, 3), 7.5)
        arr.update((slice(2, 6), slice(1, 4)), patch)
        ref[2:6, 1:4] = 7.5
        np.testing.assert_allclose(arr.read_data(), ref)
        arr.clear((slice(0, 5), slice(0, 2)))
        ref[0:5, 0:2] = SCHEMA.fill_value
        np.testing.assert_allclose(arr.read_data(), ref)

    def test_meta_and_lookup(self, warehouse):
        coll = warehouse.collections.create("c", SCHEMA)
        arr = coll.arrays.create({"station": "s9"}, {"comment": "hi"})
        meta = coll.arrays.read_meta(arr)
        assert meta["primary_attributes"] == {"station": "s9"}
        coll.arrays.update_meta_custom_attributes(arr, {"comment": "bye"})
        assert coll.arrays.read_meta(arr)["custom_attributes"]["comment"] == "bye"
        found = coll.arrays.get_by_primary_attributes({"station": "s9"})
        assert found is not None and found.id == arr.id
        assert coll.arrays.get_by_id(arr.id).id == arr.id
        assert coll.arrays.get_by_id("nope") is None
        coll.arrays.delete(arr)
        assert coll.arrays.get_by_id(arr.id) is None
        assert coll.arrays.is_deleted(arr)

    def test_failed_meta_update_keeps_old_meta(self, warehouse):
        """A custom-attribute update that cannot be serialized raises and
        leaves the array's meta, and the lookup, as they were."""
        coll = warehouse.collections.create("c", SCHEMA)
        arr = coll.arrays.create({"station": "s1"}, {"comment": "hi"}, id_="a1")
        before = coll.arrays.read_meta(arr)
        with pytest.raises(TypeError):
            coll.arrays.update_meta_custom_attributes(arr, {"comment": {1, 2}})
        assert coll.arrays.read_meta(arr) == before
        assert coll.arrays.get_by_primary_attributes({"station": "s1"}).meta() == before

    def test_shared_primary_key_resolves_to_sorted_first(self, warehouse):
        """Arrays sharing a primary key resolve to the one whose meta
        file name sorts first, every time; once it is deleted, the
        other."""
        coll = warehouse.collections.create("c", SCHEMA)
        # b's meta file is the larger: a scan that packs files largest
        # first would meet it first
        coll.arrays.create({"station": "s"}, {"comment": "longer meta"}, id_="b")
        first = coll.arrays.create({"station": "s"}, id_="a")
        ids = {coll.arrays.get_by_primary_attributes({"station": "s"}).id for _ in range(5)}
        assert ids == {"a"}
        coll.arrays.delete(first)
        assert coll.arrays.get_by_primary_attributes({"station": "s"}).id == "b"

    def test_lookup_builds_missing_index_once(self, warehouse, spark):
        """A catalog with no primary-key index (written before it
        existed) is indexed by its first lookup; the next lookup runs
        no Spark job."""
        import os
        import shutil

        coll = warehouse.collections.create("c", SCHEMA)
        arr = coll.arrays.create({"station": "s1"}, id_="a1")
        coll.arrays.create({"station": "s2"}, id_="a2")
        shutil.rmtree(os.path.join(coll.path, "meta", "_primary"))
        assert coll.arrays.get_by_primary_attributes({"station": "s1"}).id == arr.id
        sc = spark.sparkContext
        try:
            sc.setJobGroup("lookup-after-build", "lookup")
            assert coll.arrays.get_by_primary_attributes({"station": "s2"}).id == "a2"
            assert list(sc.statusTracker().getJobIdsForGroup("lookup-after-build")) == []
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    def test_lookup_skips_stale_marker(self, warehouse):
        """A meta file removed behind the index's back leaves a marker
        with no meta: the lookup misses instead of raising."""
        import os

        coll = warehouse.collections.create("c", SCHEMA)
        arr = coll.arrays.create({"station": "s1"})
        os.remove(coll.arrays._meta_path(arr.id))
        assert coll.arrays.get_by_primary_attributes({"station": "s1"}) is None

    def test_validation(self, warehouse):
        coll = warehouse.collections.create("c", SCHEMA)
        with pytest.raises(DekerValidationError):
            coll.arrays.create({})  # missing primary
        with pytest.raises(DekerValidationError):
            coll.arrays.create({"station": "s", "bogus": 1})
        arr = coll.arrays.create({"station": "s"})
        with pytest.raises(DekerSubsetError):
            arr.read_data((slice(None), slice(None), slice(None)))
        with pytest.raises(DekerSubsetError):
            arr.read_data(99)

    def test_data_points_limit(self, warehouse, monkeypatch):
        import deker_server_adapters_spark.core.storage as storage

        coll = warehouse.collections.create("c", SCHEMA)
        arr = coll.arrays.create({"station": "s"})
        monkeypatch.setattr(storage, "DEFAULT_MAX_POINTS", 10)
        with pytest.raises(DekerDataPointsLimitError) as e:
            coll.arrays.store.read_slice(
                arr.id, coll.arrays._grid(),
                [(0, 20, False), (0, 12, False)], np.dtype("float64"),
                max_points=10,
            )
        assert e.value.limit == 10 and e.value.requested == 240

    def test_read_runs_no_spark_job(self, warehouse, spark):
        """create, read_data, update and the metadata requests are served
        on the driver: an array and a varray created with and without
        data, a cell, a box and a whole array (one chunk, and a varray
        spanning six), an update of a one-chunk box, a clear of a varray
        box spanning chunks, a chunk-view update, primary-key lookups
        (a hit, a miss, an unknown key, a chunk-view hit) and a varray's
        meta read and custom-attribute update start no Spark job."""
        coll = warehouse.collections.create("c", SCHEMA)
        ref = np.random.RandomState(5).rand(20, 12)
        vcoll = warehouse.collections.create("v", VSCHEMA)
        vref = np.random.RandomState(6).rand(12, 8)
        sc = spark.sparkContext
        creates = {
            "array": (lambda: coll.arrays.create({"station": "f"}), np.full(ref.shape, SCHEMA.fill_value)),
            "array_data": (lambda: coll.arrays.create({"station": "s"}, data=ref), ref),
            "varray": (lambda: vcoll.varrays.create(), np.full(vref.shape, VSCHEMA.fill_value)),
            "varray_data": (lambda: vcoll.varrays.create(data=vref), vref),
        }
        created = {}
        try:
            for kind, (create, want) in creates.items():
                group = f"create-no-job-{kind}"
                sc.setJobGroup(group, kind)
                created[kind] = create()
                np.testing.assert_array_equal(created[kind].read_data(), want)
                assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], kind
            arr, va = created["array_data"], created["varray_data"]
            view = vcoll.arrays.get_by_primary_attributes({"vid": va.id, "v_position": [1, 0]})
            reads = {
                "cell": (lambda: arr.read_data((3, 4)), ref[3, 4]),
                "box": (lambda: arr[2:9, 1:5], ref[2:9, 1:5]),
                "whole": (lambda: arr.read_data(), ref),
                "varray": (lambda: va.read_data(), vref),
            }

            def update_box():
                arr.update((slice(2, 9), slice(1, 5)), -ref[2:9, 1:5])
                ref[2:9, 1:5] *= -1

            def clear_varray_box():  # rows 3:9 x cols 2:7 reach 4 of 6 chunks
                va.clear((slice(3, 9), slice(2, 7)))
                vref[3:9, 2:7] = va.schema.fill_value

            def update_view():  # chunk (1, 0) covers rows 4:8, cols 0:4
                view.update((slice(0, 2), 1), [-5.0, -6.0])
                vref[4:6, 1] = [-5.0, -6.0]

            writes = {
                "update": (update_box, arr, ref),
                "clear": (clear_varray_box, va, vref),
                "view": (update_view, va, vref),
            }

            def update_varray_meta():
                vcoll.varrays.update_meta_custom_attributes(va, {})
                return vcoll.varrays.read_meta(va)

            metas = {
                "hit": (lambda: coll.arrays.get_by_primary_attributes({"station": "s"}).id, arr.id),
                "miss": (lambda: coll.arrays.get_by_primary_attributes({"station": "t"}), None),
                "unknown": (lambda: coll.arrays.get_by_primary_attributes({"bogus": 1}), None),
                "view": (
                    lambda: vcoll.arrays.get_by_primary_attributes(
                        {"v_position": [1, 0], "vid": va.id}
                    ).id,
                    view.id,
                ),
                "varray_meta": (lambda: vcoll.varrays.read_meta(va)["id"], va.id),
                "varray_meta_update": (lambda: update_varray_meta()["id"], va.id),
            }
            for kind, (read, want) in reads.items():
                group = f"read-no-job-{kind}"
                sc.setJobGroup(group, kind)
                np.testing.assert_allclose(read(), want)
                assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], kind
            for kind, (write, target, want) in writes.items():
                group = f"write-no-job-{kind}"
                sc.setJobGroup(group, kind)
                write()
                np.testing.assert_array_equal(target.read_data(), want)
                assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], kind
            for kind, (call, want) in metas.items():
                group = f"meta-no-job-{kind}"
                sc.setJobGroup(group, kind)
                assert call() == want, kind
                assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], kind
        finally:
            for key in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            ):
                sc.setLocalProperty(key, None)

    def test_meta_df_empty_collection_yields_empty_df(self, warehouse):
        """A created-but-empty collection is a legitimate catalog state:
        meta_df() returns an empty DataFrame, not an exception (the
        exception is reserved for a missing collection) — ADVICE r5."""
        coll = warehouse.collections.create("empty_cat", SCHEMA)
        df = coll.arrays.meta_df()
        assert df.count() == 0
        assert "id" in df.columns

    def test_meta_df_and_ensemble_cells(self, warehouse):
        coll = warehouse.collections.create("ens", SCHEMA)
        rng = np.random.RandomState(23)
        refs = {}
        for i in range(3):
            r = rng.rand(20, 12)
            coll.arrays.create({"station": f"s{i}"}, id_=f"m{i}", data=r)
            refs[f"m{i}"] = r
        # catalog as a DataFrame
        meta = coll.arrays.meta_df()
        assert meta.count() == 3
        assert set(meta.select("primary_attributes.station").toPandas().iloc[:, 0]) == {
            "s0",
            "s1",
            "s2",
        }
        # ensemble mean across arrays per cell
        cells = coll.arrays.cells_df(["m0", "m1", "m2"])
        got = (
            cells.groupBy("x", "y")
            .avg("value")
            .toPandas()
            .sort_values(["x", "y"])["avg(value)"]
            .to_numpy()
            .reshape(20, 12)
        )
        want = np.mean([refs["m0"], refs["m1"], refs["m2"]], axis=0)
        np.testing.assert_allclose(got, want)

    def test_custom_fill_value(self, warehouse):
        from deker_server_adapters_spark.core import ArraySchema, DimensionSchema

        schema = ArraySchema(
            dtype="float64",
            dimensions=(DimensionSchema("x", 6), DimensionSchema("y", 4)),
            fill_value=-9999.0,
        )
        coll = warehouse.collections.create("fv", schema)
        arr = coll.arrays.create()
        assert (arr.read_data() == -9999.0).all()  # born at fill
        arr.update((slice(0, 2), slice(0, 2)), 1.0)
        arr.clear((slice(0, 1), slice(0, 1)))  # clear -> back to fill
        out = arr.read_data()
        assert out[0, 0] == -9999.0 and out[1, 1] == 1.0

    def test_step_slices(self, warehouse):
        coll = warehouse.collections.create("steps", SCHEMA)
        rng = np.random.RandomState(29)
        ref = rng.rand(20, 12)
        arr = coll.arrays.create({"station": "s"}, data=ref)
        np.testing.assert_allclose(arr[::2], ref[::2])
        np.testing.assert_allclose(arr[1:15:3, 2:10:2], ref[1:15:3, 2:10:2])
        np.testing.assert_allclose(arr[::4, 5], ref[::4, 5])

    def test_empty_slice_read(self, warehouse):
        coll = warehouse.collections.create("c", SCHEMA)
        arr = coll.arrays.create({"station": "s"}, data=np.ones((20, 12)))
        out = arr.read_data((slice(5, 5), slice(0, 3)))
        assert out.shape == (0, 3)

    def test_cell_df(self, warehouse):
        coll = warehouse.collections.create("c", SCHEMA)
        rng = np.random.RandomState(3)
        ref = rng.rand(20, 12)
        arr = coll.arrays.create({"station": "s"}, data=ref)
        pdf = arr.cell_df().toPandas()
        assert len(pdf) == 20 * 12
        got = np.zeros((20, 12))
        got[pdf["x"].to_numpy(), pdf["y"].to_numpy()] = pdf["value"].to_numpy()
        np.testing.assert_allclose(got, ref)


class TestIsolation:
    def test_arrays_in_one_collection_are_isolated(self, warehouse):
        coll = warehouse.collections.create("c", SCHEMA)
        rng = np.random.RandomState(5)
        a_ref, b_ref = rng.rand(20, 12), rng.rand(20, 12)
        a = coll.arrays.create({"station": "a"}, data=a_ref)
        b = coll.arrays.create({"station": "b"}, data=b_ref)
        a.update((slice(0, 3), slice(0, 3)), 99.0)
        a_ref[0:3, 0:3] = 99.0
        np.testing.assert_allclose(a.read_data(), a_ref)
        np.testing.assert_allclose(b.read_data(), b_ref)  # untouched
        coll.arrays.delete(a)
        np.testing.assert_allclose(b.read_data(), b_ref)  # survives sibling delete

    def test_slice_scan_prunes_to_array_partition(self, warehouse):
        from deker_server_adapters_spark.plans.explain import formatted_plan

        coll = warehouse.collections.create("c", SCHEMA)
        arr = coll.arrays.create({"station": "a"})
        coll.arrays.create({"station": "b"})
        plan = formatted_plan(coll.arrays.cells_df([arr.id]))
        assert "PartitionFilters" in plan and "array_id" in plan
        # the id filter is on the partition column: the scan itself
        # prunes to the one array's directory
        assert any(
            "PartitionFilters" in line and "array_id" in line for line in plan.splitlines()
        )


class TestVArrays:
    def test_roundtrip_spanning_chunks(self, warehouse):
        coll = warehouse.collections.create("v", VSCHEMA)
        rng = np.random.RandomState(7)
        ref = rng.rand(12, 8)
        va = coll.varrays.create(data=ref)
        np.testing.assert_allclose(va.read_data(), ref)
        # subset spanning multiple vgrid cells
        np.testing.assert_allclose(va[2:11, 1:7], ref[2:11, 1:7])
        va.update((slice(3, 10), slice(2, 6)), np.full((7, 4), -1.0))
        ref[3:10, 2:6] = -1.0
        np.testing.assert_allclose(va.read_data(), ref)

    def test_chunk_arrays_and_vid_delete(self, warehouse):
        coll = warehouse.collections.create("v", VSCHEMA)
        va = coll.varrays.create()
        chunks = va.chunk_arrays()
        assert len(chunks) == 6  # vgrid 3x2
        positions = sorted(tuple(c.primary_attributes["v_position"]) for c in chunks)
        assert positions == [(0, 0), (0, 1), (1, 0), (1, 1), (2, 0), (2, 1)]
        found = coll.arrays.get_by_primary_attributes({"vid": va.id, "v_position": [1, 1]})
        assert found is not None
        coll.arrays.delete_all_by_vid(va.id)
        assert va.chunk_arrays() == []

    def test_varray_delete_scans_no_catalog(self, warehouse, monkeypatch):
        """A varray delete removes its views by the ids its vgrid names,
        then its own meta and its chunk dataset, without reading the
        catalog: it succeeds with ``read_catalog`` raising, and leaves
        no view meta, no index marker and no chunk dir. Another
        varray's views and data are kept."""
        import os

        from deker_server_adapters_spark.core import array as array_mod
        from deker_server_adapters_spark.core.storage import chunk_dir

        coll = warehouse.collections.create("v", VSCHEMA)
        va = coll.varrays.create(data=np.ones((12, 8)))
        vb = coll.varrays.create(data=np.full((12, 8), 2.0))

        def scan(meta_dir):
            raise AssertionError(f"catalog scan of {meta_dir}")

        with monkeypatch.context() as m:
            m.setattr(array_mod, "read_catalog", scan)
            coll.varrays.delete(va)
        meta_dir = os.path.join(coll.path, "meta")
        assert not [n for n in os.listdir(meta_dir) if n.startswith(va.id)]
        markers = [n for _, _, names in os.walk(os.path.join(meta_dir, "_primary")) for n in names]
        assert not [n for n in markers if n.startswith(va.id)]
        assert len([n for n in markers if n.startswith(vb.id)]) == 6
        assert not os.path.exists(chunk_dir(os.path.join(coll.path, "chunks"), va.id))
        assert coll.varrays.get_by_id(va.id) is None
        assert len(vb.chunk_arrays()) == 6
        np.testing.assert_array_equal(vb.read_data(), np.full((12, 8), 2.0))

    def test_chunk_arrays_scans_no_catalog(self, warehouse, monkeypatch):
        """``chunk_arrays`` reads the views by the ids its vgrid names:
        with ``read_catalog`` raising it returns the 6 views of the 3x2
        vgrid in vgrid order, and skips a view whose meta is gone."""
        import os

        from deker_server_adapters_spark.core import array as array_mod

        coll = warehouse.collections.create("v", VSCHEMA)
        va = coll.varrays.create()

        def scan(meta_dir):
            raise AssertionError(f"catalog scan of {meta_dir}")

        with monkeypatch.context() as m:
            m.setattr(array_mod, "read_catalog", scan)
            views = va.chunk_arrays()
            assert [c.id for c in views] == [f"{va.id}:{i}" for i in range(6)]
            assert [tuple(c.primary_attributes["v_position"]) for c in views] == [
                (0, 0), (0, 1), (1, 0), (1, 1), (2, 0), (2, 1)
            ]
            os.remove(coll.arrays._meta_path(f"{va.id}:3"))
            assert [c.id for c in va.chunk_arrays()] == [f"{va.id}:{i}" for i in (0, 1, 2, 4, 5)]

    def test_chunk_views_read_and_write_real_data(self, warehouse):
        """Chunk-array views are live windows onto the varray's cells
        (reference chunk arrays hold the data; parity requires the
        views to be readable AND writable)."""
        coll = warehouse.collections.create("v", VSCHEMA)
        rng = np.random.RandomState(13)
        ref = rng.rand(12, 8)
        va = coll.varrays.create(data=ref)
        view = coll.arrays.get_by_primary_attributes({"vid": va.id, "v_position": [1, 0]})
        # vgrid (3,2) on (12,8) -> chunk (1,0) covers rows 4:8, cols 0:4
        np.testing.assert_allclose(view.read_data(), ref[4:8, 0:4])
        np.testing.assert_allclose(view[1:3, 2], ref[5:7, 2])
        view.update((slice(0, 2), slice(0, 2)), np.full((2, 2), -5.0))
        ref[4:6, 0:2] = -5.0
        np.testing.assert_allclose(va.read_data(), ref)  # visible via varray

    def test_reduce_dimension(self, warehouse):
        coll = warehouse.collections.create("r", SCHEMA)
        rng = np.random.RandomState(17)
        ref = rng.rand(20, 12)
        arr = coll.arrays.create({"station": "s"}, data=ref)
        got = arr.reduce("y", "mean").toPandas().sort_values("x")["mean"].to_numpy()
        np.testing.assert_allclose(got, ref.mean(axis=1))
        got_sum = arr.reduce("x", "sum").toPandas().sort_values("y")["sum"].to_numpy()
        np.testing.assert_allclose(got_sum, ref.sum(axis=0))

    def test_varray_meta(self, warehouse):
        coll = warehouse.collections.create("v", VSCHEMA)
        va = coll.varrays.create(custom_attributes={})
        coll.varrays.update_meta_custom_attributes(va, {"note": "x"})
        assert coll.varrays.read_meta(va)["custom_attributes"]["note"] == "x"
        assert coll.varrays.get_by_id(va.id).id == va.id
        assert len(list(coll.varrays)) == 1
        coll.varrays.delete(va)
        assert coll.varrays.get_by_id(va.id) is None

    def test_vgrid_validation(self):
        with pytest.raises(DekerValidationError):
            VArraySchema(
                dtype="float64",
                dimensions=(DimensionSchema("x", 10),),
                vgrid=(3,),  # doesn't divide 10
            )


class TestDistributedLookup:
    def test_lookup_many_arrays_no_driver_listdir(self, warehouse, spark, monkeypatch):
        """Iteration reads the catalog on the driver and starts no Spark
        job; get_by_primary_attributes lists only its key's index dir,
        never the meta dir (the reference-brief scale trap at millions
        of arrays)."""
        import os as _os

        coll = warehouse.collections.create("many", SCHEMA)
        for i in range(12):
            coll.arrays.create({"station": f"st{i}"}, id_=f"arr{i}")
        meta_dir = _os.path.join(coll.path, "meta")
        listed = []
        for name in ("listdir", "scandir"):
            real = getattr(_os, name)

            def spy(path=".", _real=real):
                listed.append(_os.path.normpath(path))
                return _real(path)

            monkeypatch.setattr(_os, name, spy)
        found = coll.arrays.get_by_primary_attributes({"station": "st7"})
        assert found is not None and found.id == "arr7"
        assert coll.arrays.get_by_primary_attributes({"station": "nope"}) is None
        assert coll.arrays.get_by_primary_attributes({"bogus_key": 1}) is None
        assert len(listed) == 3 and all(
            _os.path.dirname(p) == _os.path.join(meta_dir, "_primary") for p in listed
        ), listed
        sc = spark.sparkContext
        sc.setJobGroup("catalog_iteration", "catalog iteration")
        try:
            metas = list(coll.arrays)
            jobs = sc.statusTracker().getJobIdsForGroup("catalog_iteration")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(jobs) == []
        assert [m["id"] for m in metas] == sorted(f"arr{i}" for i in range(12))
        assert all(m["primary_attributes"] == {"station": f"st{m['id'][3:]}"} for m in metas)

    def test_lookup_on_empty_collection(self, warehouse):
        coll = warehouse.collections.create("empty", SCHEMA)
        assert coll.arrays.get_by_primary_attributes({"station": "x"}) is None
        assert list(coll.arrays) == []


def test_write_from_cells_persist_hygiene(warehouse, spark):
    """The distributed ingest path caches its chunk-indexed input for
    the build + present-idx probe; the cache must be released when the
    write finishes (same pattern as the dedup_components fix)."""
    import numpy as np

    coll = warehouse.collections.create("ingest_hygiene", SCHEMA)
    rng = np.random.RandomState(5)
    data = rng.rand(20, 12)
    cells = spark.createDataFrame(
        [(int(x), int(y), float(data[x, y])) for x in range(20) for y in range(12)],
        "x long, y long, value double",
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    arr = coll.arrays.create_from_cells(cells, primary_attributes={"station": "sX"})
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # no-growth, not exact-zero: Spark's ContextCleaner releases other
    # tests' unreferenced caches asynchronously, so the count can DROP
    # between the two samples in a full-suite run
    assert after <= before, f"persisted RDDs grew by {after - before}"
    np.testing.assert_allclose(arr.read_data(), data)


def test_create_from_cells_publishes_one_file_per_chunk(warehouse, spark, monkeypatch):
    """A varray built from cells is written once: every chunk dir holds
    one visible file, the chunks no cell reaches as fill, and all of
    them when the cells are empty; read_data equals NumPy. A write that
    fails, in its job (a raising UDF) or after it (the publish), leaves
    no visible chunk file and no temp of its write."""
    import os

    from pyspark.sql import functions as F

    from deker_server_adapters_spark.core import storage

    coll = warehouse.collections.create("v", VSCHEMA)
    ref = np.random.RandomState(8).rand(12, 8)
    fill = np.full(ref.shape, VSCHEMA.fill_value)
    want = fill.copy()
    want[:4] = ref[:4]  # chunk row 0: chunks 0 and 1 of six
    cells = spark.createDataFrame(
        [(x, y, float(ref[x, y])) for x in range(4) for y in range(8)],
        "x long, y long, value double",
    )
    empty = spark.createDataFrame([], "x long, y long, value double")

    def listing(va_id: str) -> dict:
        d = storage.chunk_dir(os.path.join(coll.path, "chunks"), va_id)
        return {c: os.listdir(os.path.join(d, c)) for c in os.listdir(d)} if os.path.isdir(d) else {}

    for src, expect in ((cells, want), (empty, fill)):
        va = coll.varrays.create_from_cells(src)
        np.testing.assert_array_equal(va.read_data(), expect)
        dirs = listing(va.id)
        assert len(dirs) == 6, dirs
        assert all(len(n) == 1 and storage.is_visible_chunk_file(n[0]) for n in dirs.values()), dirs

    boom = F.udf(lambda v: 1 / 0, "double")
    with pytest.raises(Exception, match="ZeroDivisionError"):
        coll.varrays.create_from_cells(cells.withColumn("value", boom("value")), id_="udf")

    def failed_publish(renames, own_prefix):
        raise OSError("publish failed")

    monkeypatch.setattr(storage, "publish_staged", failed_publish)
    with pytest.raises(OSError, match="publish failed"):
        coll.varrays.create_from_cells(cells, id_="publish")
    for va_id in ("udf", "publish"):
        assert not any(listing(va_id).values()), listing(va_id)


def test_corrupt_meta_file_is_skipped(warehouse):
    """A truncated/garbage meta json must not poison the catalog scan:
    PERMISSIVE-mode corrupt records (all-null rows + _corrupt_record)
    are dropped, healthy arrays still list and resolve."""
    import os

    coll = warehouse.collections.create("weather", SCHEMA)
    a = coll.arrays.create({"station": "s1"})
    meta_dir = os.path.join(coll.path, "meta")
    with open(os.path.join(meta_dir, "zz_corrupt.json"), "w") as f:
        f.write('{"id": "broken", "primary_attr')  # truncated mid-key
    metas = list(coll.arrays)
    assert [m["id"] for m in metas] == [a.id]
    assert coll.arrays.get_by_primary_attributes({"station": "s1"}).id == a.id


def test_catalog_lists_underscore_prefixed_ids(warehouse):
    """An id starting with ``_`` is an array like any other: iteration,
    ``meta_df`` and ``lookup_df`` list it, as ``get_by_id`` finds it."""
    coll = warehouse.collections.create("weather", SCHEMA)
    for id_ in ("_hidden", "plain"):
        coll.arrays.create({"station": "s1"}, id_=id_)
    assert coll.arrays.get_by_id("_hidden") is not None
    assert [m["id"] for m in coll.arrays] == ["_hidden", "plain"]
    assert sorted(r["id"] for r in coll.arrays.meta_df().collect()) == ["_hidden", "plain"]
    got = coll.arrays.lookup_df({"station": "s1"}).select("id").collect()
    assert sorted(r["id"] for r in got) == ["_hidden", "plain"]


def test_iteration_returns_metas_as_read_meta_does(warehouse):
    """Iteration keeps each meta's own attribute types: an int, a dict
    and a string stored under one custom attribute come back as stored,
    equal to ``read_meta``, not as one type inferred for the catalog."""
    coll = warehouse.collections.create("weather", SCHEMA)
    arrays = [
        coll.arrays.create({"station": f"s{i}"}, {"comment": c}, id_=f"a{i}")
        for i, c in enumerate([5, {"n": 1}, "text"])
    ]
    vcoll = warehouse.collections.create("grid", VSCHEMA)
    va = vcoll.varrays.create(id_="va")
    metas = list(coll.arrays)
    assert metas == [coll.arrays.read_meta(a) for a in arrays]
    assert [m["custom_attributes"]["comment"] for m in metas] == [5, {"n": 1}, "text"]
    assert list(vcoll.varrays) == [vcoll.varrays.read_meta(va)]
    assert [m["id"] for m in vcoll.arrays] == ["va"] + [f"va:{i}" for i in range(6)]


def test_meta_df_schema_is_the_glob_scans(warehouse, spark):
    """``meta_df`` parses the meta texts the driver loaded with Spark's
    JSON reader: its plan scans no file, and its schema is the one a
    scan of ``meta/*.json`` infers."""
    import os

    from deker_server_adapters_spark.plans.explain import physical_plan

    coll = warehouse.collections.create("weather", SCHEMA)
    coll.arrays.create({"station": "s1"}, {"comment": "a"}, id_="a")
    coll.arrays.create({"station": "s2"}, id_="b")
    vcoll = warehouse.collections.create("grid", VSCHEMA)
    vcoll.varrays.create(id_="va")
    for c in (coll, vcoll):
        df = c.arrays.meta_df()
        assert "FileScan" not in physical_plan(df)
        assert df.schema == spark.read.json(os.path.join(c.path, "meta", "*.json")).schema


def test_array_writes_leave_partition_overwrite_mode_alone(warehouse, spark, tmp_path):
    """An overwrite of a partitioned output through ``sources.io``
    replaces every partition, before and after the engine writes an
    array: engine writes must not switch the session's
    ``partitionOverwriteMode`` to dynamic."""
    import os

    from deker_server_adapters_spark.sources.io import write_parquet

    def partitions_after_overwrite(path: str) -> list[str]:
        write_parquet(spark.createDataFrame([("a", 1), ("b", 2)], "p string, v long"), path, ["p"])
        write_parquet(spark.createDataFrame([("c", 3)], "p string, v long"), path, ["p"])
        return sorted(n[len("p="):] for n in os.listdir(path) if n.startswith("p="))

    assert partitions_after_overwrite(str(tmp_path / "before")) == ["c"]
    coll = warehouse.collections.create("weather", SCHEMA)
    coll.arrays.create({"station": "s1"}, data=np.ones((20, 12)))
    assert partitions_after_overwrite(str(tmp_path / "after")) == ["c"]


def test_request_path_runs_without_a_session(tmp_path):
    """The request ops run on a ``Warehouse`` with no SparkSession and
    agree with NumPy: collection create; array create with data,
    ``update`` (enough of them to fold a chunk), ``clear`` and
    ``read_data``; ``get_by_primary_attributes``, ``get_by_id``,
    ``read_meta``, ``update_meta_custom_attributes`` and ``delete``;
    array and varray iteration, ``chunk_arrays``, ``delete_all_by_vid``
    and varray ``delete``; ``gc_temps``; the first lookup of a catalog
    whose primary-key index is gone; varray create, update and read.
    docs/PARITY.md lists the ops that need a session."""
    import os
    import shutil

    from deker_server_adapters_spark.core.storage import FOLD_FILES, TMP_PREFIX, ChunkStore

    wh = Warehouse(None, str(tmp_path / "wh"))
    coll = wh.collections.create("weather", SCHEMA)
    want = np.arange(240, dtype=np.float64).reshape(20, 12)
    arr = coll.arrays.create({"station": "s1"}, {"comment": "a"}, data=want)
    arr.update((slice(2, 7), slice(3, 9)), -1.0)
    want[2:7, 3:9] = -1.0
    for i in range(FOLD_FILES + 1):
        arr.update((i % 20, slice(None)), np.arange(12.0) * i)
        want[i % 20] = np.arange(12.0) * i
    arr.clear((slice(10, 12), slice(0, 5)))
    want[10:12, 0:5] = SCHEMA.fill_value
    np.testing.assert_array_equal(arr.read_data(), want)
    np.testing.assert_array_equal(arr.read_data((slice(1, 5), 3)), want[1:5, 3])

    assert coll.arrays.get_by_primary_attributes({"station": "s1"}).id == arr.id
    assert coll.arrays.get_by_id(arr.id).primary_attributes == {"station": "s1"}
    coll.arrays.update_meta_custom_attributes(arr, {"comment": "b"})
    assert coll.arrays.read_meta(arr)["custom_attributes"] == {"comment": "b"}
    coll.arrays.delete(arr)
    assert coll.arrays.get_by_id(arr.id) is None
    assert coll.arrays.get_by_primary_attributes({"station": "s1"}) is None

    vcoll = wh.collections.create("grid", VSCHEMA)
    vwant = np.arange(96, dtype=np.float64).reshape(12, 8)
    va = vcoll.varrays.create(data=vwant)
    va.update((slice(2, 9), slice(1, 6)), 5.0)  # spans four vgrid cells
    vwant[2:9, 1:6] = 5.0
    np.testing.assert_array_equal(vcoll.varrays.get_by_id(va.id).read_data(), vwant)
    np.testing.assert_array_equal(va.read_data((slice(3, 5), 4)), vwant[3:5, 4])

    b = coll.arrays.create({"station": "s2"}, id_="b", data=want)
    coll.arrays.create({"station": "s3"}, id_="c")
    assert [m["id"] for m in coll.arrays] == ["b", "c"]
    shutil.rmtree(os.path.join(coll.path, "meta", "_primary"))
    assert coll.arrays.get_by_primary_attributes({"station": "s2"}).id == "b"
    assert coll.arrays.get_by_primary_attributes({"station": "s3"}).id == "c"
    d = os.path.join(coll.path, "chunks", "array_id=b", "chunk_idx=0")
    orphan = os.path.join(d, f"{TMP_PREFIX}dead-0.parquet")
    open(orphan, "wb").close()
    os.utime(orphan, (1.0, 1.0))
    assert ChunkStore(None, coll.path).gc_temps(max_age_sec=3600) == 1
    np.testing.assert_array_equal(b.read_data(), want)

    vb = vcoll.varrays.create(id_="vb")
    assert [m["id"] for m in vcoll.varrays] == sorted([va.id, "vb"])
    assert sorted(c.id for c in vb.chunk_arrays()) == [f"vb:{i}" for i in range(6)]
    assert len(list(vcoll.arrays)) == 2 + 2 * 6
    vcoll.arrays.delete_all_by_vid(va.id)
    assert va.chunk_arrays() == [] and len(vb.chunk_arrays()) == 6
    vcoll.varrays.delete(vb)
    assert [m["id"] for m in vcoll.arrays] == [va.id]
    assert vcoll.varrays.get_by_id("vb") is None


def test_spark_ops_without_a_session_name_the_op(tmp_path):
    """Each op that runs Spark, called on a ``Warehouse`` with no
    SparkSession, raises one error naming it (docs/PARITY.md)."""
    from deker_server_adapters_spark.core.errors import DekerSessionRequiredError
    from deker_server_adapters_spark.core.storage import ChunkStore

    wh = Warehouse(None, str(tmp_path / "wh"))
    coll = wh.collections.create("weather", SCHEMA)
    vcoll = wh.collections.create("grid", VSCHEMA)
    arr = coll.arrays.create({"station": "s1"})
    va = vcoll.varrays.create()
    store = ChunkStore(None, coll.path)
    calls = {
        "cell_df": [arr.cell_df, va.cell_df],
        "reduce": [lambda: arr.reduce("x")],
        "cells_df": [lambda: coll.arrays.cells_df(None)],
        "create_from_cells": [
            lambda: coll.arrays.create_from_cells(None, primary_attributes={"station": "s2"}),
            lambda: vcoll.varrays.create_from_cells(None),
        ],
        "lookup_df": [lambda: coll.arrays.lookup_df({"station": "s1"})],
        "meta_df": [coll.arrays.meta_df],
        "maintenance_stats": [store.maintenance_stats],
        "compact": [store.compact],
    }
    for op, fns in calls.items():
        for fn in fns:
            with pytest.raises(DekerSessionRequiredError, match=f"^{op} needs a SparkSession"):
                fn()
    assert [m["id"] for m in coll.arrays] == [arr.id]
