"""Definition hashes for every registry entry.

Each entry gets a content hash over everything that determines its
behavior:

  * ``inspect.getsource(fn)`` — the query function itself. Engine
    imports in this repo are function-level (``from ..operators.dedup
    import ...`` inside the body), so the source captures which engine
    modules the entry depends on;
  * the oracle SQL string as materialized at registration (this also
    catches composed oracles such as ``dedup_method_eval``, whose
    oracle embeds other entries' SQL built at import time);
  * the full source of every first-party engine module the function
    (or its defining module, at top level) imports — ``operators/*``,
    ``plans``, ``functions``, ``schemas``, ``streaming/*`` … —
    transitively, so an operator-level semantic fix flips the hash of
    every entry that reaches it.

``--helpers`` also hashes the source segments of every module-level
workload definition the fn reaches by name (transitively, across
workload modules), so an edit to an intra-module helper or constant
flips the hash too.

Two dumps taken before and after a change name the entries whose
definition it touched; ``tools/check_correctness.py`` takes those
names as its positional arguments.

Usage:
    python tools/freshness.py --dump [--repo DIR] [--helpers]
        Print one JSON object {entry: hash} for the tree at DIR
        (default: this repo).
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "copenhagen_traffic_and_weather_etl_pipeline_spark"

def _module_file(pkg_root: Path, dotted: str) -> Path | None:
    """``operators.dedup`` -> operators/dedup.py or operators/dedup/__init__.py."""
    rel = dotted.replace(".", "/")
    for cand in (pkg_root / f"{rel}.py", pkg_root / rel / "__init__.py"):
        if cand.exists():
            return cand
    return None


def _imports_in_nodes(nodes, cur_pkg: list[str]) -> set[str]:
    """Package-relative dotted names of first-party modules imported by
    the given AST nodes, resolved from ALL import forms: relative
    ``from ..X.Y import`` / ``from .X import`` / ``from .. import X``
    (level arithmetic against ``cur_pkg``, the importing module's
    package location), and absolute ``from <pkg>.X import`` /
    ``import <pkg>.X`` / ``from <pkg> import X``. Names that do not
    resolve to a module file under the package (e.g. ``from . import
    load`` — a function) are dropped downstream via _module_file."""
    out: set[str] = set()

    def add_from(mod: str | None, names) -> None:
        # The imported names may themselves be modules (``from
        # <pkg>.operators import flatten``) — emit both the module and
        # each module.name candidate; names that are mere functions
        # don't resolve to files and drop out at the _module_file
        # filter downstream.
        if mod:
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in names)
        else:
            out.update(a.name for a in names)

    for node in nodes:
        if isinstance(node, ast.ImportFrom):
            if node.level > 0:
                if node.level - 1 > len(cur_pkg):
                    continue  # escapes the package root — not first-party
                base = cur_pkg[: len(cur_pkg) - (node.level - 1)]
                mod = ".".join(base + node.module.split(".")) if node.module else (
                    ".".join(base) if base else None
                )
                if node.module or base:
                    add_from(mod, node.names)
                else:  # from <root> import X — X must be a module
                    out.update(a.name for a in node.names)
            elif node.module:
                if node.module == PKG:
                    out.update(a.name for a in node.names)
                elif node.module.startswith(PKG + "."):
                    add_from(node.module[len(PKG) + 1 :], node.names)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG + "."):
                    out.add(a.name[len(PKG) + 1 :])
    return {d for d in out if d}


def _pkg_location(module_path: Path, pkg_root: Path) -> list[str]:
    """The package a module's relative imports resolve against: for
    x/y.py the containing package ['x']; for x/__init__.py the package
    itself ['x'] (both are ``rel.parts[:-1]``)."""
    return list(module_path.relative_to(pkg_root).parts[:-1])


def _is_engine_dep(dotted: str) -> bool:
    """Workload modules are registries of MANY entries (and import each
    other for shared helpers); hashing a whole sibling registry into an
    entry's definition would flip ~all entries on every unrelated edit.
    Per-entry workload drift is already captured by the fn source and
    the materialized oracle string (which embeds any cross-module
    oracle composition), so the dep closure covers engine modules
    only. Cross-module Spark-side helper calls remain the documented
    intra-registry limitation, covered behaviorally by the local
    175-entry gate."""
    return dotted != "workload" and not dotted.startswith("workload.")


def _transitive_deps(direct: set[str], pkg_root: Path) -> set[str]:
    """Close the dep set over first-party imports: an entry depending
    on operators/dedup.py also depends on everything dedup.py imports
    (e.g. plans.materialize_once) — a semantic fix there changes the
    entry's behavior just as surely. Round 8's review caught that the
    direct-only hash left this gap open."""
    seen: set[str] = set()
    frontier = {d for d in direct if _is_engine_dep(d) and _module_file(pkg_root, d)}
    while frontier:
        dep = frontier.pop()
        if dep in seen:
            continue
        seen.add(dep)
        f = _module_file(pkg_root, dep)
        if f is None:
            continue
        tree = ast.parse(f.read_text())
        for sub in _imports_in_nodes(ast.walk(tree), _pkg_location(f, pkg_root)):
            if sub not in seen and _is_engine_dep(sub) and _module_file(pkg_root, sub):
                frontier.add(sub)
    return seen


def _workload_family(dotted: str) -> bool:
    return dotted == "workload" or dotted.startswith("workload.")


class _ModuleIndex:
    """Per-workload-module helper resolution index: top-level
    definitions (name -> source segment) and the import map (local
    name -> (target module dotted, original name)). Backs the opt-in
    ``include_helpers`` hash mode, which closes v1's documented
    limitation: an intra-module helper (function, constant, CTE
    string) called by the entry fn but defined outside it was not
    hashed unless the materialized oracle captured it."""

    def __init__(self, pkg_root: Path):
        self.pkg_root = pkg_root
        self._cache: dict[str, tuple[dict, dict]] = {}
        self._src_cache: dict[tuple, tuple[set, dict, set]] = {}

    def get(self, dotted: str) -> tuple[dict, dict]:
        """dotted '' means the package-root __init__ (``from <pkg>
        import X`` / ``from .. import X`` out of a workload submodule)
        — distinct from 'workload', the workload package __init__
        (round-9 review finding)."""
        if dotted in self._cache:
            return self._cache[dotted]
        f = (
            self.pkg_root / "__init__.py"
            if dotted == ""
            else _module_file(self.pkg_root, dotted)
        )
        if f is None or not f.exists():
            self._cache[dotted] = ({}, {})
            return self._cache[dotted]
        text = f.read_text()
        tree = ast.parse(text)
        cur_pkg = _pkg_location(f, self.pkg_root)
        # defs: name -> (segment, lineno); imports: name -> (target
        # module, original name, lineno). Linenos let resolution honor
        # runtime binding order when a module both imports and defines
        # one name.
        defs: dict[str, tuple[str, int]] = {}
        imports: dict[str, tuple[str, str, int]] = {}
        # Own walker (unlike _module_level_nodes, which deliberately
        # DROPS def nodes): yields module-level def statements
        # themselves and descends through non-def blocks so guarded
        # assigns/imports under top-level try/if/with count too.
        nodes: list = []
        stack = list(tree.body)
        while stack:
            node = stack.pop()
            nodes.append(node)
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)
            ):
                stack.extend(
                    c
                    for c in ast.iter_child_nodes(node)
                    if isinstance(c, (ast.stmt, ast.ExceptHandler))
                )
        def put_def(name: str, node, seg: str) -> None:
            # Keep the LAST binding by source position (runtime wins —
            # round-9 review finding on def-after-import precedence).
            if name not in defs or node.lineno > defs[name][1]:
                defs[name] = (seg, node.lineno)

        for node in nodes:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                # Include decorators: @register(...)'s oracle/doc and
                # any behavior-wrapping decorator are part of a reached
                # helper's definition; ast.get_source_segment starts at
                # the def line and would drop them (round-9 review
                # finding).
                seg = "\n".join(
                    [ast.get_source_segment(text, d) or "" for d in node.decorator_list]
                    + [ast.get_source_segment(text, node) or ""]
                )
                put_def(node.name, node, seg)
            elif isinstance(node, ast.Assign):
                seg = ast.get_source_segment(text, node) or ""
                for t in node.targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            put_def(n.id, node, seg)
            elif (
                isinstance(node, ast.AnnAssign)
                and isinstance(node.target, ast.Name)
                and node.value is not None
            ):
                # A bare annotation (`x: T` without a value) binds
                # nothing at runtime — letting it win the last-binding
                # comparison would hash dead annotation text over the
                # live import/def (round-9 third-pass finding).
                put_def(node.target.id, node, ast.get_source_segment(text, node) or "")
            elif isinstance(node, ast.ImportFrom):
                self._add_from(node, cur_pkg, imports)
        self._cache[dotted] = (defs, imports)
        return self._cache[dotted]

    def _add_from(self, node: ast.ImportFrom, cur_pkg: list[str], out: dict) -> None:
        if node.level > 0:
            if node.level - 1 > len(cur_pkg):
                return
            base = cur_pkg[: len(cur_pkg) - (node.level - 1)]
            mod = ".".join(base + node.module.split(".")) if node.module else ".".join(base)
        elif node.module and node.module == PKG:
            mod = ""
        elif node.module and node.module.startswith(PKG + "."):
            mod = node.module[len(PKG) + 1 :]
        else:
            return  # third-party
        for a in node.names:
            # Last binding wins here too (the module walker and
            # ast.walk don't guarantee source order; guard with lineno
            # explicitly).
            prev = out.get(a.asname or a.name)
            if prev is None or node.lineno >= prev[2]:
                out[a.asname or a.name] = (mod, a.name, node.lineno)

    def analyze_src(
        self, src: str, src_pkg: tuple[str, ...]
    ) -> tuple[set, dict, set]:
        """(names used, import overlay, engine deps imported inside)
        for one source block — cached, and ONE ast.parse per cache
        miss (names, overlay, and engine imports all derive from the
        same tree)."""
        key = (src, src_pkg)
        hit = self._src_cache.get(key)
        if hit is not None:
            return hit
        try:
            tree = ast.parse(src)
        except SyntaxError:
            res: tuple[set, dict, set] = (set(), {}, set())
            self._src_cache[key] = res
            return res
        walked = list(ast.walk(tree))
        engine = {
            d
            for d in _imports_in_nodes(iter(walked), list(src_pkg))
            if _is_engine_dep(d) and _module_file(self.pkg_root, d)
        }
        overlay: dict[str, tuple[str, str, int]] = {}
        for node in walked:
            if isinstance(node, ast.ImportFrom):
                self._add_from(node, list(src_pkg), overlay)
        free, global_reads = _scope_free(tree.body, set())
        res = (free | global_reads, overlay, engine)
        self._src_cache[key] = res
        return res


def _names_used(src: str) -> set[str]:
    """Names whose Load may reach MODULE level: per-scope free-variable
    analysis, not a flat walk. A flat subtract is wrong in BOTH
    directions (round-9 review findings): counting locally-bound names
    spuriously folds shadowed module helpers into the hash (false
    drift), and subtracting scope-insensitively lets a
    lambda param / comprehension target suppress a genuine
    enclosing-scope read of a module helper (silent under-inclusion in
    a drift gate). Rules, biased toward over-inclusion when ambiguous:

    - per scope, bound = params, Store/Del targets, except-aliases,
      nested def/class names; loads of bound names stay local;
    - nested scopes: free names propagate outward minus each enclosing
      scope's bindings; decorators, default values, and the FIRST
      comprehension iterable evaluate in the ENCLOSING scope (Python
      semantics — keeps their loads from being eaten by inner params);
    - ``global X`` makes X a module read (and never locally bound),
      propagated to the top unsubtractable even when an enclosing
      function binds the same name; ``nonlocal X`` can never be a
      module read — excluded;
    - class scopes do NOT enclose their methods (Python semantics): a
      method's free names bypass class-attribute bindings;
    - import aliases are NOT treated as bound: they resolve through
      the import overlay instead."""
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return set()
    free, global_reads = _scope_free(tree.body, set())
    return free | global_reads


def _param_names(node) -> set[str]:
    a = node.args
    p = {arg.arg for arg in a.posonlyargs + a.args + a.kwonlyargs}
    p |= {arg.arg for arg in (a.vararg, a.kwarg) if arg}
    return p


def _function_free(node) -> tuple[set[str], set[str]]:
    """(free, global reads) of ONE function — decorators, defaults,
    annotations, body — WITHOUT binding the function's own name: a
    class-body method whose body calls a same-named module function
    reads the MODULE one (round-9 fourth-pass finding)."""
    f, g = _scope_free([node], set())
    body = node.body if isinstance(node.body, list) else [node.body]
    bf, _bg = _scope_free(body, _param_names(node))
    name = getattr(node, "name", None)
    if name and name in bf:
        f = f | {name}
    return f, g


def _scope_free(
    body, params: set[str], class_body: bool = False
) -> tuple[set[str], set[str]]:
    """(free names, global-declared reads) of one scope. The second
    set rides to the top WITHOUT being subtracted by enclosing
    bindings — ``def q(): CFG = 1; def inner(): global CFG`` reads the
    module CFG even though q binds CFG locally (round-9 third-pass
    finding).

    ``class_body``: Python class scopes do NOT enclose the functions
    defined in them — a method's free names must bypass
    class-attribute bindings (but remain subtractable by the scope
    CONTAINING the class: methods do close over enclosing function
    scopes). In class-body mode every function/lambda encountered at
    any statement depth (so also under ``if``/``try`` — round-9
    fourth-pass finding) is analyzed in isolation and its free names
    join the return value AFTER this scope's subtraction."""
    bound = set(params)
    loads: set[str] = set()
    inner_free: set[str] = set()
    bypass: set[str] = set()
    global_names: set[str] = set()
    global_reads_up: set[str] = set()
    nonlocal_names: set[str] = set()

    def recurse(sub_body, sub_params: set[str], cb: bool = False) -> set[str]:
        f, g = _scope_free(sub_body, sub_params, class_body=cb)
        global_reads_up.update(g)
        return f

    def enter_function(node) -> None:
        # Decorators / defaults / annotations evaluate HERE.
        for d in getattr(node, "decorator_list", []):
            handle(d)
        a = node.args
        for dflt in list(a.defaults) + [d for d in a.kw_defaults if d]:
            handle(dflt)
        for arg in a.posonlyargs + a.args + a.kwonlyargs + [
            x for x in (a.vararg, a.kwarg) if x
        ]:
            if arg.annotation:
                handle(arg.annotation)
        if getattr(node, "returns", None):
            handle(node.returns)
        inner_free.update(
            recurse(
                node.body if isinstance(node.body, list) else [node.body],
                _param_names(node),
            )
        )

    def enter_comprehension(node) -> None:
        # The first iterable evaluates HERE; targets/ifs/elt and
        # later iterables in the comprehension's own scope —
        # recurse through _scope_free so nested lambdas and
        # comprehensions inside get the same precise treatment.
        # Comprehension scopes are FUNCTION scopes: in class-body mode
        # their free names must bypass class-attribute bindings exactly
        # like methods do (only the first iterable sees the class
        # scope — round-10 ADVICE finding: `class A: helper = 1;
        # vals = [helper(v) for v in rows]` reads the MODULE helper).
        handle(node.generators[0].iter)
        comp_params = {
            n.id
            for g in node.generators
            for n in ast.walk(g.target)
            if isinstance(n, ast.Name)
        }
        rest = [e for g in node.generators for e in g.ifs]
        rest += [g.iter for g in node.generators[1:]]
        rest += (
            [node.key, node.value]
            if isinstance(node, ast.DictComp)
            else [node.elt]
        )
        if class_body:
            f, g = _scope_free(rest, comp_params)
            bypass.update(f)
            global_reads_up.update(g)
        else:
            inner_free.update(recurse(rest, comp_params))

    def handle(c) -> None:
        if isinstance(c, (ast.FunctionDef, ast.AsyncFunctionDef)):
            bound.add(c.name)
            if class_body:
                # Class scopes do not enclose their methods: analyze
                # in isolation; free names join via the bypass channel
                # (not subtracted by class-attribute bindings).
                f, g = _function_free(c)
                bypass.update(f)
                global_reads_up.update(g)
            else:
                enter_function(c)
        elif isinstance(c, ast.Lambda):
            if class_body:
                f, g = _function_free(c)
                bypass.update(f)
                global_reads_up.update(g)
            else:
                enter_function(c)
        elif isinstance(c, ast.ClassDef):
            bound.add(c.name)
            for d in c.decorator_list:
                handle(d)
            for b in list(c.bases) + list(c.keywords):
                handle(b)
            # The class body runs in class-body mode: its own
            # statements see class attributes, while functions at any
            # statement depth inside it bypass them (round-9 third- and
            # fourth-pass findings).
            inner_free.update(recurse(c.body, set(), cb=True))
        elif isinstance(
            c, (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)
        ):
            enter_comprehension(c)
        elif isinstance(c, ast.Global):
            global_names.update(c.names)
        elif isinstance(c, ast.Nonlocal):
            nonlocal_names.update(c.names)
        else:
            if isinstance(c, ast.Name):
                (loads if isinstance(c.ctx, ast.Load) else bound).add(c.id)
            elif isinstance(c, ast.ExceptHandler) and c.name:
                bound.add(c.name)
            for sub in ast.iter_child_nodes(c):
                handle(sub)

    for stmt in body:
        handle(stmt)
    bound -= global_names
    free = (loads - bound) | (inner_free - bound) | global_names
    # bypass joins AFTER this scope's subtraction (class-body mode);
    # the enclosing scope still subtracts its own bindings from it.
    # The global-reads channel is NOT filtered by nonlocal_names:
    # global and nonlocal cannot coexist for one name in one scope, so
    # the only effect of subtracting would be wrongly erasing an inner
    # scope's `global X` read when THIS scope declares X nonlocal
    # (round-9 fourth-pass finding).
    return (free - nonlocal_names) | bypass, global_names | global_reads_up


def _helper_closure(
    fn_name: str, fn_src: str, mod_dotted: str, cur_pkg: list[str], idx: _ModuleIndex
) -> tuple[list[str], set[str]]:
    """(hash parts, engine deps) for the entry fn's helper closure.

    Hash parts: sorted ``module:name\\x00segment`` for every
    module-level workload-family definition the fn reaches by name —
    transitively through helpers and through ``from .sibling import
    helper`` re-exports. Engine deps: first-party non-workload modules
    imported INSIDE any reached helper segment (e.g. ``from ..plans
    import materialize_once`` in a helper body) — v1's dep closure
    only sees the entry fn and module top level, so without feeding
    these back an engine edit reached solely through a helper would
    escape the hash (round-9 review finding, confirmed live on
    ``_materialized_edges``/``_resolve_sf_dir``)."""
    out: dict[tuple[str, str], str] = {}
    engine_deps: set[str] = set()
    visited: set[tuple[str, str]] = set()  # resolved DEF targets

    def resolve(mod: str, name: str, overlay: dict) -> tuple[str, str] | None:
        """Follow import chains to the defining (module, name), or None
        for unresolvable / module-object / engine targets (engine
        targets are recorded as deps). Keyed by TARGET, not usage site:
        the same local name may resolve differently via a segment
        overlay vs the module import map (round-9 review finding)."""
        hops: set[tuple[str, str]] = set()
        while True:
            if (mod, name) in hops:
                return None
            hops.add((mod, name))
            defs, imports = idx.get(mod)
            # A fn-local import (overlay) rebinds for the whole block;
            # at module level the LAST binding wins, so compare the
            # import's and the def's source positions (round-9 review
            # finding: import-over-def regardless of order hashed the
            # dead binding).
            tgt = overlay.get(name)
            if tgt is None:
                imp, dfn = imports.get(name), defs.get(name)
                if imp is not None and (dfn is None or imp[2] > dfn[1]):
                    tgt = imp
                elif dfn is not None:
                    return (mod, name)
                else:
                    return None
            overlay = {}  # the segment overlay applies to the first hop only
            tmod, oname = tgt[0], tgt[1]
            if not (_workload_family(tmod) or tmod == ""):
                engine_deps.add(tmod)
                return None
            # '' = package ROOT __init__, kept distinct from the
            # workload package __init__ ('workload').
            sub = f"{tmod}.{oname}" if tmod else oname
            if _module_file(idx.pkg_root, sub):
                # Binds a MODULE object, not a name: engine submodules
                # are v1-dep territory; whole workload registries stay
                # excluded by design.
                if _is_engine_dep(sub):
                    engine_deps.add(sub)
                return None
            mod, name = tmod, oname

    def scan(src: str, mod: str, src_pkg: list[str]) -> None:
        # One parse per distinct source block: names/overlay/engine
        # imports are cached on the index (round-9 review finding —
        # shared segments like workload:load were re-parsed for every
        # one of the 175 entries).
        names, overlay, seg_engine = idx.analyze_src(src, tuple(src_pkg))
        engine_deps.update(seg_engine)
        for used in names:
            tgt = resolve(mod, used, overlay)
            if tgt is None or tgt in visited:
                continue
            visited.add(tgt)
            tmod, tname = tgt
            seg = idx.get(tmod)[0][tname][0]
            out[tgt] = seg
            if tmod == "":
                seg_pkg: list[str] = []
            else:
                f = _module_file(idx.pkg_root, tmod)
                seg_pkg = _pkg_location(f, idx.pkg_root) if f else src_pkg
            scan(seg, tmod, seg_pkg)

    visited.add((mod_dotted, fn_name))
    scan(fn_src, mod_dotted, cur_pkg)
    parts = [f"{m}:{n}\x00{s}" for (m, n), s in sorted(out.items())]
    return parts, engine_deps


def _module_level_nodes(tree: ast.Module) -> list[ast.stmt]:
    """Every node at module level, descending through top-level Try /
    If / With blocks but NOT into function or class bodies — so a
    guarded ``try: from ..operators import x`` counts as a module-level
    import (round-8 ADVICE: ``tree.body`` alone missed those) while
    imports inside sibling functions stay per-entry."""
    out: list = []

    def visit(node) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)
            ):
                continue
            out.append(child)
            visit(child)

    visit(tree)
    return out


def compute_hashes(repo: Path, include_helpers: bool = False) -> dict[str, str]:
    """Entry-definition hashes. ``include_helpers`` folds in the source
    segments of every module-level workload helper the fn reaches by
    name (see _helper_closure); it is strictly stricter than the
    default mode."""
    repo = repo.resolve()
    # inspect.getsource reads from the module ALREADY in sys.modules; if
    # the package was imported from a different tree, fn sources would
    # come from that tree while dep-module sources are read from
    # ``repo`` — a silently mixed hash (round-8 ADVICE). Callers wanting
    # another tree must use the ``--dump --repo`` subprocess path.
    loaded = sys.modules.get(PKG)
    if loaded is not None:
        loaded_root = Path(loaded.__file__).resolve().parent.parent
        if loaded_root != repo:
            raise RuntimeError(
                f"{PKG} is already imported from {loaded_root}, not {repo} — "
                "compute_hashes would mix trees; run "
                f"`{sys.executable} tools/freshness.py --dump --repo {repo}` "
                "in a subprocess instead."
            )
    sys.path.insert(0, str(repo))
    import importlib
    import inspect

    workload = importlib.import_module(f"{PKG}.workload")
    pkg_root = repo / PKG
    idx = _ModuleIndex(pkg_root) if include_helpers else None
    module_imports: dict[str, set[str]] = {}
    src_cache: dict[str, str] = {}

    def module_src(dotted: str) -> str:
        if dotted not in src_cache:
            f = _module_file(pkg_root, dotted)
            src_cache[dotted] = f.read_text() if f else f"<missing:{dotted}>"
        return src_cache[dotted]

    hashes: dict[str, str] = {}
    for name, spec in workload.REGISTRY.items():
        fn = spec.fn
        src = inspect.getsource(fn)
        mod_file = Path(inspect.getsourcefile(fn))
        mod_key = str(mod_file)
        cur_pkg = _pkg_location(mod_file, pkg_root)
        if mod_key not in module_imports:
            # Module TOP-LEVEL imports apply to every entry the module
            # defines; imports inside OTHER functions of the module do
            # not (per-entry precision — a dep used only by a sibling
            # query must not flip this entry's hash). "Top level"
            # includes guarded imports under module-level Try/If.
            tree = ast.parse(mod_file.read_text())
            module_imports[mod_key] = _imports_in_nodes(
                _module_level_nodes(tree), cur_pkg
            )
        direct = set(module_imports[mod_key])
        # Imports anywhere inside THIS entry's function (any form —
        # full AST walk of the fn source, not a regex).
        direct |= _imports_in_nodes(ast.walk(ast.parse(src)), cur_pkg)
        # Harness names that do not resolve to module files (e.g.
        # `from . import load, register`) drop out inside the closure.
        helper_parts: list[str] = []
        if idx is not None:
            mod_dotted = ".".join(
                mod_file.relative_to(pkg_root).with_suffix("").parts
            ).removesuffix(".__init__")
            helper_parts, helper_engine_deps = _helper_closure(
                fn.__name__, src, mod_dotted, cur_pkg, idx
            )
            # Engine modules imported only inside helper bodies join
            # the transitive dep closure (round-9 review finding).
            direct |= helper_engine_deps
        deps = _transitive_deps(direct, pkg_root)
        parts = [src, spec.oracle or ""]
        parts += [f"{d}\x00{module_src(d)}" for d in sorted(deps)]
        parts += helper_parts
        hashes[name] = hashlib.sha256("\x00\x01".join(parts).encode()).hexdigest()
    return hashes



def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--dump", action="store_true")
    p.add_argument(
        "--helpers",
        action="store_true",
        help="also fold in the source segments of every module-level "
        "workload helper the entry fn reaches by name",
    )
    p.add_argument("--repo", default=str(REPO))
    args = p.parse_args()
    if args.dump:
        print(
            json.dumps(
                compute_hashes(Path(args.repo), include_helpers=args.helpers),
                indent=1,
                sort_keys=True,
            )
        )
        return 0
    p.print_help()
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
