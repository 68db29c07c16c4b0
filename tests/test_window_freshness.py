"""Tests of the registry entry definition hasher (tools/freshness.py).

An entry's hash covers its fn source, its materialized oracle, the
source of every first-party engine module it imports (transitively)
and, with ``--helpers``, every module-level workload helper it reaches
by name. These tests pin the import resolution, the scope analysis
that decides which module-level names a fn reads, and end-to-end hash
flips on synthetic packages.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (  # noqa: E402
    REGISTRY,
)

def test_import_resolution_covers_all_forms(tmp_path):
    """The dependency extractor must resolve every Python import form —
    a silently-ignored form would let engine drift pass the freshness
    gate (round-8 review finding)."""
    import ast

    from freshness import PKG, _imports_in_nodes, _module_file

    src = "\n".join(
        [
            "from ..operators.dedup import minhash_signature",   # rel dotted
            "from ..plans import materialize_once",               # rel module
            "from .. import schemas",                             # bare rel pkg
            "from ._oracle_helpers import lloyd_iter_ctes",       # sibling
            "from copenhagen_traffic_and_weather_etl_pipeline_spark.operators import flatten",
            "from copenhagen_traffic_and_weather_etl_pipeline_spark import testdata",
            "import copenhagen_traffic_and_weather_etl_pipeline_spark.sinks",
            "import os",                                          # third-party: ignored
            "from pyspark.sql import functions as F",             # third-party: ignored
        ]
    )
    raw = _imports_in_nodes(ast.walk(ast.parse(src)), ["workload"])
    # Imported NAMES that are functions (materialize_once, ...) are
    # emitted as candidates and dropped by the same file-resolution
    # filter the pipeline applies — assert on the resolved set.
    pkg_root = REPO / PKG
    got = {d for d in raw if _module_file(pkg_root, d)}
    assert got == {
        "operators.dedup",
        "plans",
        "schemas",
        "workload._oracle_helpers",
        "operators",           # the subpackage __init__
        "operators.flatten",   # ...and the submodule actually imported
        "testdata",
        "sinks",
    }


def test_transitive_closure_reaches_indirect_engine_deps():
    """operators/dedup.py imports from plans/ — an entry that imports
    only operators.dedup must still hash plans' source (the round-7
    asof-class blind spot the closure exists to cover). Workload
    registry modules must stay excluded even when imported directly."""
    from freshness import PKG, _transitive_deps

    pkg_root = REPO / PKG
    closure = _transitive_deps({"operators.dedup"}, pkg_root)
    assert "operators.dedup" in closure
    assert "plans" in closure, "indirect plans dep not reached"
    assert not any(d == "workload" or d.startswith("workload.") for d in closure)

    # A direct workload-module dep is dropped entirely (per-entry drift
    # there is captured by fn source + materialized oracle instead).
    assert _transitive_deps({"workload.extension_queries"}, pkg_root) == set()


def _closure_for(entry):
    import inspect

    from freshness import PKG, _ModuleIndex, _helper_closure, _pkg_location

    pkg_root = REPO / PKG
    idx = _ModuleIndex(pkg_root)
    spec = REGISTRY[entry]
    src = inspect.getsource(spec.fn)
    mf = Path(inspect.getsourcefile(spec.fn))
    mod = ".".join(
        mf.relative_to(pkg_root).with_suffix("").parts
    ).removesuffix(".__init__")
    parts, engine_deps = _helper_closure(
        spec.fn.__name__, src, mod, _pkg_location(mf, pkg_root), idx
    )
    return {p.split("\x00")[0] for p in parts}, engine_deps


def test_names_used_never_under_includes_vs_symtable():
    """Oracle check of the scope analyzer against Python's own
    ``symtable`` over the LIVE corpus: every registry entry fn source
    and every helper segment of every workload module. A name symtable
    says may read module level must appear in _names_used (or be an
    import alias, which resolves through the overlay instead) —
    under-inclusion is the failure mode that lets helper drift escape
    the freshness gate, so this is the direction the gate cannot
    afford. Over-inclusion is tolerated (it only costs window slots).
    Round-9 passes 2-4 each found under-inclusions by hand-review;
    this pins the whole corpus mechanically."""
    import ast
    import importlib
    import inspect
    import symtable

    from freshness import PKG, _ModuleIndex, _names_used

    def module_reads(src):
        st = symtable.symtable(src, "<s>", "exec")
        out = set()

        def walk(t):
            for sym in t.get_symbols():
                if sym.is_referenced() and sym.is_global():
                    out.add(sym.get_name())
            for c in t.get_children():
                walk(c)

        walk(st)
        return out

    def imported_names(src):
        out = set()
        for n in ast.walk(ast.parse(src)):
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                out.update(a.asname or a.name.split(".")[0] for a in n.names)
        return out

    pkg_root = REPO / PKG
    idx = _ModuleIndex(pkg_root)
    workload = importlib.import_module(f"{PKG}.workload")

    srcs = {
        f"fn:{name}": inspect.getsource(spec.fn)
        for name, spec in workload.REGISTRY.items()
    }
    for f in sorted((pkg_root / "workload").glob("*.py")):
        dotted = "workload" if f.name == "__init__.py" else f"workload.{f.stem}"
        defs, _ = idx.get(dotted)
        for n, (seg, _ln) in defs.items():
            srcs[f"seg:{dotted}:{n}"] = seg

    assert len(srcs) > 400, "corpus unexpectedly small — collection broke?"
    under = {}
    for key, src in srcs.items():
        try:
            ref = module_reads(src)
        except SyntaxError:
            continue
        missing = ref - (_names_used(src) | imported_names(src))
        if missing:
            under[key] = sorted(missing)
    assert not under, f"scope analyzer under-includes vs symtable: {under}"


def test_helper_closure_resolves_constants_functions_and_reexports():
    """v2 hash mode must reach: same-module constants, same-module
    sibling query fns called directly, cross-module helpers imported
    at module top level, fn-level imports from _oracle_helpers, and
    the shared workload loader reached via `from . import load`."""
    ks, _ = _closure_for("sessionize_events")
    assert "workload.scale_queries:_SESSION_GAP_US" in ks  # same-module constant
    assert "workload:load" in ks  # shared loader via `from . import load`
    assert "workload:_resolve_sf_dir" in ks  # transitive through load

    ks, _ = _closure_for("dedup_method_eval")
    assert "workload.extension_queries:dedup_minhash_lsh" in ks  # direct sibling call
    assert "workload.extension_queries:_words_col" in ks  # transitive helper

    ks, _ = _closure_for("ivf_ann_search")
    assert "workload._oracle_helpers:lloyd_iter_ctes" in ks  # fn-level import


def test_helper_closure_collects_engine_deps_from_helper_bodies():
    """Engine modules imported only INSIDE a reached helper's body must
    surface as deps — v1's dep closure sees only the entry fn and the
    module top level, so without this an edit to plans/ reached solely
    through a helper (triangle queries via _materialized_edges) or to
    testdata reached through load->_resolve_sf_dir would escape the v2
    hash (round-9 review finding, confirmed live before the fix)."""
    _, deps = _closure_for("triangle_count_coorder")
    assert "plans" in deps, "plans import inside _materialized_edges missed"

    _, deps = _closure_for("sessionize_events")
    assert "testdata" in deps, "testdata import inside _resolve_sf_dir missed"


def test_names_used_excludes_locally_bound_names():
    """A local variable shadowing a module-level helper must not pull
    that helper into the hash: any binding makes the name local to the
    whole scope, so loads never read the module definition (round-9
    review finding)."""
    import textwrap

    from freshness import _names_used

    src = textwrap.dedent(
        """
        def q(spark, sf_dir):
            prefix = 1          # shadows a module-level `prefix`
            n = prefix + other  # `other` is a real module-level read
            for item in rows:   # `item` bound, `rows` read
                n += item
            return n
        """
    )
    got = _names_used(src)
    assert "other" in got and "rows" in got
    assert "prefix" not in got and "item" not in got and "n" not in got
    assert "spark" not in got and "sf_dir" not in got  # params bound


def test_names_used_is_scope_sensitive():
    """A name bound only in a NESTED scope (lambda param, comprehension
    target) must not suppress a genuine enclosing-scope read of a
    module-level helper — the reviewer's live counterexample against
    the flat-walk subtract (round-9 second-pass finding)."""
    import textwrap

    from freshness import _names_used

    src = textwrap.dedent(
        """
        def q(spark, sf_dir):
            parts = [w for w in words]
            vals = sorted(rows, key=lambda t: t.ts)
            return t(w)   # module-level t and w, despite inner binders
        """
    )
    got = _names_used(src)
    assert {"t", "w", "words", "rows", "sorted"} <= got
    assert "parts" not in got and "vals" not in got

    # global declaration: a module read even though assigned locally.
    src2 = "def q():\n    global CFG\n    CFG = 1\n    return CFG\n"
    assert "CFG" in _names_used(src2)

    # decorator/default expressions evaluate in the enclosing scope.
    src3 = "def q():\n    @deco\n    def inner(x=default_val):\n        return x\n    return inner\n"
    got3 = _names_used(src3)
    assert {"deco", "default_val"} <= got3 and "x" not in got3


def test_names_used_class_scope_does_not_enclose_methods():
    """`class Agg: helper = ...; def m(self): return helper()` reads
    MODULE-level helper at runtime — class scopes do not enclose their
    methods, so the class-attribute binding must not swallow the
    method's free name (round-9 third-pass finding, confirmed live)."""
    import textwrap

    from freshness import _names_used

    src = textwrap.dedent(
        """
        class Agg:
            helper = staticmethod(something)

            def m(self):
                return helper()
        """
    )
    got = _names_used(src)
    assert "helper" in got
    assert "staticmethod" in got and "something" in got


def test_names_used_method_calling_same_named_module_fn():
    """A method whose body calls a function with the METHOD'S OWN name
    reads the module-level one (class attrs are invisible from method
    bodies) — the throwaway binding of the method name must not
    subtract it (round-9 fourth-pass finding, confirmed live)."""
    import textwrap

    from freshness import _names_used

    src = textwrap.dedent(
        """
        class Agg:
            def transform(self, df):
                return transform(df)
        """
    )
    assert "transform" in _names_used(src)


def test_names_used_guarded_method_bypasses_class_attrs():
    """A method defined under `if`/`try` inside a class body is still a
    method: its free names bypass class-attribute bindings (round-9
    fourth-pass finding, confirmed live)."""
    import textwrap

    from freshness import _names_used

    src = textwrap.dedent(
        """
        class A:
            helper = 1
            if True:
                def m(self):
                    return helper()
        """
    )
    assert "helper" in _names_used(src)


def test_names_used_class_body_comprehension_bypasses_class_attrs():
    """A comprehension in a class body is a FUNCTION scope: everything
    but the first iterable skips the class scope, so `helper(v)` in the
    elt reads the MODULE helper even when the class binds `helper` as an
    attribute (round-10 ADVICE finding; symtable confirms). The first
    iterable DOES evaluate in the class scope, so `rows` there resolves
    to the class attribute and must stay subtracted. Lambdas nested in
    the comprehension get the same bypass."""
    import textwrap

    from freshness import _names_used

    src = textwrap.dedent(
        """
        class A:
            helper = 1
            rows = [1]
            vals = [helper(v) for v in rows]
        """
    )
    got = _names_used(src)
    assert "helper" in got
    assert "rows" not in got

    src2 = textwrap.dedent(
        """
        class B:
            scale = 2
            fns = [lambda v: scale * v for _ in range(3)]
        """
    )
    assert "scale" in _names_used(src2)

    # Comprehension targets still bind inside their own scope, and a
    # dict comprehension's key/value both bypass.
    src3 = textwrap.dedent(
        """
        class C:
            key_of = 1
            val_of = 2
            m = {key_of(x): val_of(x) for x in (1, 2)}
        """
    )
    got3 = _names_used(src3)
    assert {"key_of", "val_of"} <= got3
    assert "x" not in got3


def test_names_used_global_read_survives_nonlocal_in_middle_scope():
    """inner's `global X` read is a module read even when a MIDDLE
    scope declares X nonlocal — the up-channel must not be filtered by
    enclosing nonlocal declarations (round-9 fourth-pass finding)."""
    import textwrap

    from freshness import _names_used

    src = textwrap.dedent(
        """
        def outer():
            X = 1
            def mid():
                nonlocal X
                def inner():
                    global X
                    return X
                return inner()
            return mid()
        """
    )
    assert "X" in _names_used(src)


def test_names_used_nested_global_survives_enclosing_binding():
    """`def q(): CFG = 1; def inner(): global CFG; return CFG` — inner
    reads MODULE-level CFG; the enclosing local binding must not
    subtract it (round-9 third-pass finding, confirmed live)."""
    import textwrap

    from freshness import _names_used

    src = textwrap.dedent(
        """
        def q():
            CFG = 1
            def inner():
                global CFG
                return CFG
            return inner()
        """
    )
    assert "CFG" in _names_used(src)


def test_bare_annotation_does_not_shadow_live_import(tmp_path):
    """`from .sib import helper` followed by `helper: object` (no
    value) binds nothing at runtime — resolution must follow the live
    import, not hash the dead annotation text (round-9 third-pass
    finding: a regression risk of the last-binding-wins rule)."""
    import subprocess
    import sys as _sys
    import textwrap

    pkg = tmp_path / "copenhagen_traffic_and_weather_etl_pipeline_spark"
    (pkg / "workload").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")

    def write(sibling_body: str) -> None:
        (pkg / "workload" / "sib.py").write_text(
            f"def helper():\n    return {sibling_body!r}\n"
        )
        (pkg / "workload" / "__init__.py").write_text(
            textwrap.dedent(
                """
                from .sib import helper

                REGISTRY = {}

                class Spec:
                    def __init__(self, fn):
                        self.fn = fn
                        self.oracle = "SELECT 1"

                helper: object   # bare annotation: binds nothing

                def q(spark, sf_dir):
                    return helper()

                REGISTRY["q"] = Spec(q)
                """
            )
        )

    def dump():
        out = subprocess.run(
            [_sys.executable, str(REPO / "tools" / "freshness.py"),
             "--dump", "--repo", str(tmp_path), "--helpers"],
            capture_output=True, text=True, check=True,
        )
        return json.loads(out.stdout)["q"]

    write("sibling")
    h0 = dump()
    write("sibling-EDITED")
    assert dump() != h0, (
        "edit to the live import target did not flip the hash — the "
        "bare annotation shadowed it"
    )


def test_module_index_segments_include_decorators():
    """A reached sibling query fn's segment must include its
    @register(...) decorator block — a behavior-wrapping decorator (or
    the registered doc/oracle text) is part of the definition (round-9
    second-pass finding: get_source_segment starts at the def line)."""
    from freshness import PKG, _ModuleIndex

    idx = _ModuleIndex(REPO / PKG)
    defs, _ = idx.get("workload.extension_queries")
    seg, _lineno = defs["dedup_minhash_lsh"]
    # get_source_segment on a decorator expression omits the "@".
    assert seg.lstrip().startswith("register(")
    assert "def dedup_minhash_lsh" in seg


def test_resolve_honors_module_binding_order(tmp_path):
    """If a module imports a name and LATER defines it, the def is the
    runtime binding — the v2 hash must flip on edits to the local def,
    not the dead import target (round-9 second-pass finding)."""
    import subprocess
    import sys as _sys
    import textwrap

    pkg = tmp_path / "copenhagen_traffic_and_weather_etl_pipeline_spark"
    (pkg / "workload").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")

    def write(local_body: str, sibling_body: str) -> None:
        (pkg / "workload" / "sib.py").write_text(
            f"def helper():\n    return {sibling_body!r}\n"
        )
        (pkg / "workload" / "__init__.py").write_text(
            textwrap.dedent(
                f"""
                from .sib import helper

                REGISTRY = {{}}

                class Spec:
                    def __init__(self, fn):
                        self.fn = fn
                        self.oracle = "SELECT 1"

                def helper():   # defined AFTER the import: runtime binding
                    return {local_body!r}

                def q(spark, sf_dir):
                    return helper()

                REGISTRY["q"] = Spec(q)
                """
            )
        )

    def dump():
        out = subprocess.run(
            [_sys.executable, str(REPO / "tools" / "freshness.py"),
             "--dump", "--repo", str(tmp_path), "--helpers"],
            capture_output=True, text=True, check=True,
        )
        return json.loads(out.stdout)["q"]

    write("local", "sibling")
    h0 = dump()
    write("local-EDITED", "sibling")
    assert dump() != h0, "edit to the live local def did not flip the hash"
    write("local", "sibling-EDITED")
    assert dump() == h0, "edit to the dead import target flipped the hash"


def test_helper_closure_dual_resolution_of_one_name(tmp_path):
    """The same name resolving to TWO different definitions (a sibling
    import inside the entry fn vs the module's own top-level def used
    by another helper) must include BOTH segments — dedup is keyed by
    resolved target, not usage site (round-9 review finding)."""
    import subprocess
    import sys as _sys
    import textwrap

    pkg = tmp_path / "copenhagen_traffic_and_weather_etl_pipeline_spark"
    (pkg / "workload").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")

    def write_main(local_x: str, sibling_x: str) -> None:
        (pkg / "workload" / "__init__.py").write_text(
            textwrap.dedent(
                f"""
                REGISTRY = {{}}

                class Spec:
                    def __init__(self, fn):
                        self.fn = fn
                        self.oracle = "SELECT 1"

                def X():
                    return {local_x!r}

                def B():
                    return X()

                def q(spark, sf_dir):
                    from .sib import X
                    return (X(), B())

                REGISTRY["q"] = Spec(q)
                """
            )
        )
        (pkg / "workload" / "sib.py").write_text(
            f"def X():\n    return {sibling_x!r}\n"
        )

    def dump():
        out = subprocess.run(
            [_sys.executable, str(REPO / "tools" / "freshness.py"),
             "--dump", "--repo", str(tmp_path), "--helpers"],
            capture_output=True, text=True, check=True,
        )
        return json.loads(out.stdout)["q"]

    write_main("local", "sibling")
    h0 = dump()
    write_main("local-EDITED", "sibling")
    h_local = dump()
    write_main("local", "sibling-EDITED")
    h_sib = dump()
    assert h0 != h_local, "module-local X (used via helper B) not hashed"
    assert h0 != h_sib, "sibling X (fn-level import) not hashed"


def test_helpers_mode_hash_flips_on_helper_edit(tmp_path):
    """End-to-end on a synthetic package: editing a module-level helper
    CONSTANT used by the entry fn flips the v2 hash and leaves the v1
    hash unchanged (the exact blind spot v2 exists to close)."""
    import subprocess
    import sys as _sys
    import textwrap

    pkg = tmp_path / "copenhagen_traffic_and_weather_etl_pipeline_spark"
    (pkg / "workload").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")

    def write_workload(gap: int) -> None:
        (pkg / "workload" / "__init__.py").write_text(
            textwrap.dedent(
                f"""
                REGISTRY = {{}}

                class Spec:
                    def __init__(self, fn):
                        self.fn = fn
                        self.oracle = "SELECT 1"

                _GAP = {gap}

                def q(spark, sf_dir):
                    return _GAP

                REGISTRY["q"] = Spec(q)
                """
            )
        )

    def dump(helpers: bool):
        cmd = [_sys.executable, str(REPO / "tools" / "freshness.py"),
               "--dump", "--repo", str(tmp_path)]
        if helpers:
            cmd.append("--helpers")
        out = subprocess.run(cmd, capture_output=True, text=True, check=True)
        return json.loads(out.stdout)["q"]

    write_workload(30)
    v1_a, v2_a = dump(False), dump(True)
    write_workload(60)
    v1_b, v2_b = dump(False), dump(True)
    assert v1_a == v1_b, "v1 must NOT see the helper-constant edit"
    assert v2_a != v2_b, "v2 must flip on the helper-constant edit"


def test_compute_hashes_refuses_mixed_trees(tmp_path):
    """With the package already imported (as in this process),
    compute_hashes for a DIFFERENT tree must refuse rather than hash
    fn sources from the import and dep sources from the argument
    (round-8 ADVICE)."""
    import pytest

    from freshness import compute_hashes

    (tmp_path / "copenhagen_traffic_and_weather_etl_pipeline_spark").mkdir()
    with pytest.raises(RuntimeError, match="already imported"):
        compute_hashes(tmp_path)


def test_module_level_imports_include_guarded_blocks(tmp_path):
    """Imports under top-level try:/if: count as module-level for the
    freshness hash; imports inside functions/classes do not (round-8
    ADVICE: tree.body alone was blind to guarded imports)."""
    import ast
    import textwrap

    from freshness import _imports_in_nodes, _module_level_nodes

    src = textwrap.dedent(
        """
        try:
            from ..operators import flatten
        except ImportError:
            from ..operators import dedup
        if True:
            with open("x") as f:
                from ..plans import materialize_once
        def fn():
            from ..schemas import TRAFFIC_SCHEMA  # per-entry, not module
        class C:
            from ..sinks import append_sink  # class body: excluded
        """
    )
    got = _imports_in_nodes(_module_level_nodes(ast.parse(src)), ["workload"])
    assert "operators.flatten" in got and "operators.dedup" in got
    assert "plans" in got
    assert not any("schemas" in d for d in got)
    assert not any("sinks" in d for d in got)


def test_hash_flips_on_dep_module_edit(tmp_path, monkeypatch):
    """End-to-end on a synthetic package: editing a transitively-
    imported engine module must flip an entry's hash even when the
    entry's own source and direct import are untouched."""
    import json
    import subprocess
    import sys as _sys
    import textwrap

    pkg = tmp_path / "copenhagen_traffic_and_weather_etl_pipeline_spark"
    (pkg / "workload").mkdir(parents=True)
    (pkg / "operators").mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "plans.py").write_text("def helper():\n    return 1\n")
    (pkg / "operators" / "__init__.py").write_text("")
    (pkg / "operators" / "op.py").write_text(
        "from ..plans import helper\n\ndef run():\n    return helper()\n"
    )
    (pkg / "workload" / "__init__.py").write_text(
        textwrap.dedent(
            """
            REGISTRY = {}

            class Spec:
                def __init__(self, fn):
                    self.fn = fn
                    self.oracle = "SELECT 1"

            def q(spark, sf_dir):
                from ..operators.op import run
                return run()

            REGISTRY["q"] = Spec(q)
            """
        )
    )

    def dump():
        out = subprocess.run(
            [_sys.executable, str(REPO / "tools" / "freshness.py"),
             "--dump", "--repo", str(tmp_path)],
            capture_output=True, text=True, check=True,
        )
        return json.loads(out.stdout)

    h1 = dump()["q"]
    # Edit the INDIRECT dep only.
    (pkg / "plans.py").write_text("def helper():\n    return 2\n")
    h2 = dump()["q"]
    assert h1 != h2, "indirect engine-module edit did not flip the hash"
