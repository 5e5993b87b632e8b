"""Registry rotation: order is DERIVED from the driver's own
CORRECTNESS_r*.json output — stalest (and broken) ops lead, so the
driver's bounded per-round check window cycles through everything."""

from __future__ import annotations

import json


def test_last_green_round_parses_and_skips_failures(tmp_path):
    from deker_server_adapters_spark.operators import _last_green_round

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "op_a": {"hash_match": True, "err": None},
        "op_b": {"hash_match": True, "err": None},
        "op_c": {"hash_match": None, "spark_rows": 5, "err": "no_oracle"},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "op_a": {"hash_match": True, "err": None},
        "op_b": {"hash_match": None, "err": "AnalysisException: boom"},  # broken r2
        "op_d": {"hash_match": False, "err": None},  # value mismatch
        # rows-only op that produced ZERO rows: ran, but proved nothing
        "op_e": {"hash_match": None, "spark_rows": 0, "err": "no_oracle"},
    }))
    (tmp_path / "garbage.json").write_text("not correctness")
    (tmp_path / "CORRECTNESS_r03.json").write_text("{ truncated")  # unreadable

    green = _last_green_round(tmp_path)
    assert green["op_a"] == 2
    assert green["op_b"] == 1  # r2 failure must NOT advance it
    assert green["op_c"] == 1  # rows-only-by-design counts as checked
    assert "op_d" not in green  # never green -> maximally stale
    assert "op_e" not in green  # rows-only with 0 rows proves nothing

    # the ordering contract the driver's check window depends on:
    # never-green/broken first, then ascending last-green round
    names = ["op_a", "op_b", "op_c", "op_d", "op_e"]
    ordered = sorted(names, key=lambda n: green.get(n, -1))
    assert set(ordered[:2]) == {"op_d", "op_e"}  # maximally stale lead
    assert ordered[-1] == "op_a"  # freshest green last


def test_all_ops_orders_stale_first():
    from pathlib import Path

    from deker_server_adapters_spark.operators import (
        _last_green_round,
        _verified_fingerprints,
        all_ops,
        op_fingerprint,
        rotation_rank,
    )

    root = Path(__file__).resolve().parents[1]
    green = _last_green_round(root)
    verified = _verified_fingerprints(root)
    ops = all_ops()
    ranks = [
        rotation_rank(
            op_fingerprint(op),
            verified.get(n),
            green.get(n, -1),
            oracled=op.oracle is not None,
        )
        for n, op in ops.items()
    ]
    assert ranks == sorted(ranks)  # never-checked/broken/redefined lead, freshest last


def test_rotation_fronts_redefined_ops():
    """The r6 lesson: a green round only vouches for the TEXT the driver
    checked. An op whose oracle or builder changed since its last green
    check must lead the rotation no matter how recent that green was."""
    from deker_server_adapters_spark.operators import rotation_rank

    # unchanged op: staleness is its last green round
    assert rotation_rank("abc", "abc", 5) == 5
    # redefined op (fingerprint drifted): maximally stale despite green r5
    assert rotation_rank("new", "abc", 5) == -1
    # op never verified at all (no recorded fingerprint): maximally stale
    assert rotation_rank("abc", None, 5) == -1
    # ordering: redefined-op rank sorts before any green round
    assert rotation_rank("new", "abc", 5) < rotation_rank("abc", "abc", 0)
    # rows-only class (r13): sorts after EVERY oracled op — a window
    # slot spent on a rows>0 check displaces a hash-verified one
    assert rotation_rank("abc", "abc", 0, oracled=False) > rotation_rank(
        "abc", "abc", 999
    )
    assert rotation_rank("new", "abc", 5, oracled=False) > rotation_rank(
        "abc", "abc", 999
    )
    # ...but within the rows-only class, redefined still fronts
    assert rotation_rank("new", "abc", 5, oracled=False) < rotation_rank(
        "abc", "abc", 0, oracled=False
    )


def test_fingerprint_tracks_oracle_and_builder():
    from deker_server_adapters_spark.operators import Op, op_fingerprint

    def build(spark, sf_dir):  # pragma: no cover - never called
        return None

    a = op_fingerprint(Op(name="x", builder=build, oracle="SELECT 1"))
    b = op_fingerprint(Op(name="x", builder=build, oracle="SELECT 2"))
    c = op_fingerprint(Op(name="x", builder=build, oracle=None))
    assert a != b  # oracle text change -> new fingerprint
    assert a != c and b != c  # gaining/losing an oracle -> new fingerprint
    assert a == op_fingerprint(Op(name="y", builder=build, oracle="SELECT 1"))


def test_fingerprint_tracks_helper_rewrites():
    """The r7 `text_bpe_merges` lesson: a rewrite that lives entirely in
    module-level helpers (builder body byte-identical) must still change
    the op's fingerprint, or the rotation never re-verifies it. Build
    two modules whose builder TEXT is identical but whose helper bodies
    / constants differ, and require distinct fingerprints — including
    for helpers reached only transitively or from nested lambdas."""
    import textwrap
    import types

    from deker_server_adapters_spark.operators import Op, op_fingerprint

    counter = iter(range(100))

    def make_module(helper_body, const, inner_body):
        fname = f"<fake-{next(counter)}>"
        src = textwrap.dedent(f"""
            _THRESHOLD = {const!r}

            def _inner(x):
                return {inner_body}

            def _helper(df):
                return {helper_body}

            def build(spark, sf_dir):
                fn = lambda d: _helper(d)
                return fn(_THRESHOLD)
        """)
        mod = types.ModuleType("fake_ops_mod")
        mod.__dict__["__name__"] = "deker_server_adapters_spark.operators.fake"
        exec(compile(src, fname, "exec"), mod.__dict__)
        # mark helpers as in-package so the closure walk captures them
        for fn_name in ("_helper", "_inner", "build"):
            mod.__dict__[fn_name].__module__ = (
                "deker_server_adapters_spark.operators.fake"
            )
        # getsource needs a real file; fake it through linecache
        import linecache

        linecache.cache[fname] = (
            len(src), None, src.splitlines(keepends=True), fname
        )
        return mod

    base = make_module("df + _inner(1)", 10, "x * 2")
    helper_edit = make_module("df - _inner(1)", 10, "x * 2")
    const_edit = make_module("df + _inner(1)", 99, "x * 2")
    transitive_edit = make_module("df + _inner(1)", 10, "x * 3")

    fps = []
    for mod in (base, helper_edit, const_edit, transitive_edit):
        fps.append(op_fingerprint(Op(name="x", builder=mod.build, oracle="SELECT 1")))
    # builder text identical in all four; only helpers/constants differ
    assert len(set(fps)) == 4, fps
    # and the capture is deterministic, not an id()-based accident
    again = op_fingerprint(Op(name="x", builder=base.build, oracle="SELECT 1"))
    assert again == fps[0]


def test_fingerprint_tracks_function_local_imports():
    """The r8 lesson: helpers imported INSIDE the builder body (`from
    pkg.mod import helper` — the codebase's dominant style) bind locals
    the globals walk can't see; the fingerprint must resolve those
    import statements from the captured source and hash the target's
    source, so rewriting the helper module still fronts its ops."""
    import linecache
    import sys
    import textwrap
    import types

    from deker_server_adapters_spark.operators import Op, op_fingerprint

    mod_name = "deker_server_adapters_spark.operators._fake_imported_mod"

    def install_helper(body, tag):
        src = textwrap.dedent(f"""
            def helper(x):
                return {body}
        """)
        fname = f"<fake-import-{tag}>"
        mod = types.ModuleType(mod_name)
        exec(compile(src, fname, "exec"), mod.__dict__)
        mod.helper.__module__ = mod_name
        linecache.cache[fname] = (len(src), None, src.splitlines(keepends=True), fname)
        sys.modules[mod_name] = mod

    builder_src = textwrap.dedent(f"""
        def build(spark, sf_dir):
            from {mod_name} import helper
            return helper(1)
    """)
    fname = "<fake-import-builder>"
    ns = {"__name__": "deker_server_adapters_spark.operators.fake2"}
    exec(compile(builder_src, fname, "exec"), ns)
    linecache.cache[fname] = (
        len(builder_src), None, builder_src.splitlines(keepends=True), fname
    )
    build = ns["build"]
    build.__module__ = "deker_server_adapters_spark.operators.fake2"

    try:
        install_helper("x * 2", "a")
        fp_a = op_fingerprint(Op(name="x", builder=build, oracle="SELECT 1"))
        install_helper("x * 3", "b")  # helper-module rewrite, builder untouched
        fp_b = op_fingerprint(Op(name="x", builder=build, oracle="SELECT 1"))
    finally:
        sys.modules.pop(mod_name, None)
    assert fp_a != fp_b


def test_operator_catalog_is_current():
    """docs/OPERATORS.md must match what the generator renders from the
    live registry — a stale catalog misdocuments the API surface."""
    from pathlib import Path

    from deker_server_adapters_spark.catalog import render

    on_disk = Path("docs/OPERATORS.md").read_text()
    assert on_disk == render(), (
        "docs/OPERATORS.md is stale; run python -m deker_server_adapters_spark.catalog"
    )


def test_sync_fingerprints_records_only_green_ops(tmp_path):
    """tools/sync_fingerprints: only ops green in the NEWEST correctness
    file get their current fingerprint recorded; broken/mismatched rows
    and unknown names are ignored; existing entries survive."""
    import json

    from deker_server_adapters_spark.operators import all_ops, op_fingerprint
    from deker_server_adapters_spark.tools.sync_fingerprints import sync

    ops = all_ops()
    names = list(ops)
    green1, green2, broken = names[0], names[1], names[2]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        green1: {"hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        green2: {"hash_match": True, "err": None},
        broken: {"hash_match": False, "err": None},
        "not_a_real_op": {"hash_match": True, "err": None},
    }))
    (tmp_path / "VERIFIED_FINGERPRINTS.json").write_text(
        json.dumps({green1: "preexisting"})
    )
    out = sync(tmp_path)
    assert out[green2] == op_fingerprint(ops[green2])  # newest green recorded
    assert out[green1] == "preexisting"  # r01 is not the newest file; entry kept
    assert broken not in out  # failed row never blesses a fingerprint
    assert "not_a_real_op" not in out
    on_disk = json.loads((tmp_path / "VERIFIED_FINGERPRINTS.json").read_text())
    assert on_disk == out


def test_only_tools_import_tools():
    """``tools/`` holds one-off harnesses: no package module outside it
    may import from it, so deleting a tool never breaks an operator.
    (The package imports absolutely throughout.)"""
    import ast
    from pathlib import Path

    import deker_server_adapters_spark

    pkg = Path(deker_server_adapters_spark.__file__).parent
    tools = "deker_server_adapters_spark.tools"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        if rel.parts[0] == "tools":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                assert node.level == 0, f"relative import in {rel}:{node.lineno}"
                names = [node.module, *(f"{node.module}.{a.name}" for a in node.names)]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            if any(n == tools or n.startswith(tools + ".") for n in names):
                offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []
