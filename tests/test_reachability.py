"""Package code that no production code reaches -- because only tests
call it, or nothing does -- is surface nobody ships: it must be listed
here with a reason to stay, or be deleted with its tests.

The closure is static and Spark-free. Nodes are the package's top-level
functions and classes plus each module's own top-level code (which runs
when the module is imported). From a reached node the walk follows every
``Name``, every ``Attribute`` name, every imported name or module, and
every identifier-shaped string constant (``getattr`` lookups and name
registries), matching definitions by bare name across the package. The
roots are ``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``, plus every ``queries.py:q_*`` definition, which
``queries()`` registers by its prefix; ``tests/`` is not a root.
"""

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark"

#: definitions no production code reaches, each with its reason to stay
KEEP = {
    "sources/versioned.py:write_versioned": "reference writer: "
    "test_versioned_fixture pins the hand-built fixtures against it",
    "sources/versioned.py:delete_where": "reference DML for the fixtures",
    "sources/versioned.py:update_where": "reference DML for the fixtures",
    "sources/versioned.py:merge_into": "reference DML for the fixtures",
    "sources/versioned.py:_stage_and_splice": "commit path of the reference "
    "writer and DML, with the optimistic-concurrency refusal",
    "sources/versioned.py:_rewrite_touched": "file rewrite of the reference DML",
    "operators/graph.py:kcore_numbers": "reference that "
    "copurchase_kcore_hist is compared against",
    "alerts.py:CollectingSink": "test fake for the alert sink",
    "sql.py:register_views": "SQL front door (portable-SQL contract)",
    "sql.py:register_compat_functions": "SQL front door (portable-SQL contract)",
    "plans/daily.py:run_backfill": "multi-day replay of the daily DAG "
    "(ROADMAP direction J gives it a caller)",
    "plans/daily.py:plan_backfill": "day planner of run_backfill",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _refs(nodes, package):
    """``(names, modules)`` the code under ``nodes`` can refer to;
    ``package`` is the dotted package of the file, for relative imports."""
    names, mods = set(), set()
    for root in nodes:
        for n in ast.walk(root):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    parts = a.name.split(".")
                    mods.update(".".join(parts[: i + 1]) for i in range(len(parts)))
                    names.add(a.asname or parts[0])
            elif isinstance(n, ast.ImportFrom):
                base = n.module or ""
                if n.level:
                    up = package.split(".")[: len(package.split(".")) - n.level + 1]
                    base = ".".join(up + ([base] if base else []))
                mods.add(base)
                for a in n.names:
                    mods.add(f"{base}.{a.name}")
                    names.add(a.name)
                    if a.asname:
                        names.add(a.asname)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if _IDENT.match(n.value):
                    names.add(n.value)
    return names, mods


def _module_code(tree):
    """The parts of a module that run on import: everything but the
    bodies of its top-level functions and classes."""
    out = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out += stmt.decorator_list + stmt.args.defaults
            out += [d for d in stmt.args.kw_defaults if d is not None]
        elif isinstance(stmt, ast.ClassDef):
            out += stmt.decorator_list + stmt.bases + stmt.keywords
        else:
            out.append(stmt)
    return out


def _py_files(top):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read(), path)


def package_graph():
    """``(defs, modules)``: each maps a node -- ``"rel.py:name"`` for a
    top-level definition, the dotted name for a module's import-time
    code -- to the ``(names, modules)`` it refers to."""
    defs, modules = {}, {}
    top = os.path.join(REPO, PACKAGE)
    for path in _py_files(top):
        rel = os.path.relpath(path, top).replace(os.sep, "/")
        dotted = ".".join([PACKAGE] + rel[: -len(".py")].split("/"))
        if dotted.endswith(".__init__"):
            dotted = package = dotted[: -len(".__init__")]
        else:
            package = dotted.rsplit(".", 1)[0]
        tree = _parse(path)
        modules[dotted] = _refs(_module_code(tree), package)
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{rel}:{stmt.name}"] = _refs([stmt], package)
    return defs, modules


def closure(paths, defs, modules, names=()):
    """The definitions and modules reached from the files at ``paths``
    and from the definitions called ``names``."""
    by_name = {}
    for key in defs:
        by_name.setdefault(key.rsplit(":", 1)[1], []).append(key)
    names, mods = set(names), set()
    for path in paths:
        n, m = _refs([_parse(path)], "")
        names |= n
        mods |= m
    reached_defs, reached_mods, seen = set(), set(), set()
    todo = [("name", n) for n in names] + [("mod", m) for m in mods]
    while todo:
        item = todo.pop()
        if item in seen:
            continue
        seen.add(item)
        kind, name = item
        if kind == "name":
            refs = [(k, defs[k], reached_defs) for k in by_name.get(name, ())]
        else:
            # importing a module runs the code of every package above it
            parts = name.split(".")
            refs = [
                (m, modules[m], reached_mods)
                for m in (".".join(parts[: i + 1]) for i in range(len(parts)))
                if m in modules
            ]
        for key, (n, m), reached in refs:
            if key not in reached:
                reached.add(key)
                todo += [("name", x) for x in n] + [("mod", x) for x in m]
    return reached_defs, reached_mods


def _production_files():
    paths = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for d in ("tools", "perfbench"):
        paths += list(_py_files(os.path.join(REPO, d)))
    return paths


def unshipped():
    """``(definitions, modules)`` of the package that production code
    does not reach: what only tests reach, plus what nothing reaches."""
    defs, modules = package_graph()
    registered = [k.split(":")[1] for k in defs if k.startswith("queries.py:q_")]
    prod_defs, prod_mods = closure(_production_files(), defs, modules, registered)
    return sorted(set(defs) - prod_defs), sorted(set(modules) - prod_mods)


def test_only_the_keep_list_is_unshipped():
    only_defs, only_mods = unshipped()
    kept_files = {key.split(":")[0] for key in KEEP}
    orphans = [
        m for m in only_mods
        if "/".join(m.split(".")[1:]) + ".py" not in kept_files
    ]
    extra = sorted(set(only_defs) - set(KEEP))
    stale = sorted(set(KEEP) - set(only_defs))
    assert not (orphans or extra or stale), (
        f"{len(extra)} definitions no production code reaches -- delete "
        f"them with their tests, or give a reason in KEEP: {extra}; "
        f"modules no production code imports: {orphans}; KEEP entries "
        f"that are gone or now shipped: {stale}"
    )
