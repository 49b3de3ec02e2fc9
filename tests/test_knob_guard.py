"""Knob-creep and dead-code guards.

Engine tunables are constants in code: environment reads in the package
may name only the three deployment settings, and only `session.get_spark`,
the two spark-submit jobs and the local-cluster fault test build a
SparkSession, so no script carries its own session config. And every
top-level package def is reached from a real caller (`__spark_entry__.py`,
bench, scripts, perfbench), never from tests alone."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
DEPLOYMENT_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_LOCAL_DIR", "SPARK_DRIVER_MEM"}
BUILDER_FILES = {
    "copybook_rs_spark/session.py",
    "scripts/decode_job.py",
    "scripts/encode_job.py",
    # needs a local-cluster master, which get_spark does not offer
    "tests/test_faults.py",
}
PACKAGE = "copybook_rs_spark"
# code that runs outside tests; perfbench's own tests are tests
CALLER_PATHS = ("__spark_entry__.py", "bench.py", "scripts", "perfbench")
TEST_ONLY_ALLOWED: dict[str, str] = {}


def _sources(root):
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if not any(p.startswith(".") for p in rel.parts):
            yield rel.as_posix(), ast.parse(path.read_text(), str(path))


def _env_keys(tree):
    """The key of every environment read; None when it is not a string
    literal (a dynamic name, or `environ` used as a whole)."""
    parents = {
        child: node
        for node in ast.walk(tree)
        for child in ast.iter_child_nodes(node)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            if {a.name for a in node.names} & {"environ", "getenv"}:
                yield None
        if not (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
        ):
            continue
        use = parents[node]
        if node.attr == "environ" and isinstance(use, ast.Attribute):
            use = parents[use] if use.attr == "get" else None
        if isinstance(use, ast.Call) and use.args:
            key = use.args[0]
        elif isinstance(use, ast.Subscript):
            key = use.slice
        else:
            key = None
        yield key.value if isinstance(key, ast.Constant) else None


def test_package_reads_only_deployment_env():
    reads = {
        (rel, key)
        for rel, tree in _sources(ROOT / "copybook_rs_spark")
        for key in _env_keys(tree)
    }
    assert {key for _, key in reads} <= DEPLOYMENT_ENV, sorted(
        (rel, str(key)) for rel, key in reads if key not in DEPLOYMENT_ENV
    )


def test_session_builder_only_in_get_spark_and_jobs():
    builders = {
        rel
        for rel, tree in _sources(ROOT)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and isinstance(node.value, ast.Name)
        and node.value.id == "SparkSession"
    }
    assert builders == BUILDER_FILES


def test_guard_sees_every_read_form():
    src = (
        "import os\nfrom os import environ\n"
        "os.environ.get('A')\nos.environ['B']\nos.getenv('C')\n"
        "os.environ.get(name)\ndict(os.environ)\n"
    )
    keys = sorted(str(k) for k in _env_keys(ast.parse(src)))
    assert keys == ["A", "B", "C", "None", "None", "None"]


def _mentions(tree, with_imports):
    """Every name a tree mentions: loads, attribute names, identifier-shaped
    strings (dispatch by name, query keys) and, for callers, imported names.
    The scan is by name, so a mention reaches every def of that name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                yield node.value
        elif with_imports and isinstance(node, ast.alias):
            yield node.name.rpartition(".")[2]


def _unreached_defs(package, callers):
    """`package`: {path in the package: module ast}; `callers`: module asts.
    Returns the sorted "path:name" of every top-level package def (function,
    class or assigned name) that no caller reaches, directly or through
    other reached defs. Package imports are not uses, so an `__init__`
    re-export reaches nothing; module-level statements that are neither
    defs nor imports run on import and count as callers."""
    defs = {}
    seen = set()
    for tree in callers:
        seen.update(_mentions(tree, with_imports=True))
    for rel, tree in package.items():
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            else:
                seen.update(_mentions(stmt, with_imports=False))
                continue
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    defs[f"{rel}:{name}"] = set(_mentions(stmt, with_imports=False))
    by_name = {}
    for key in defs:
        by_name.setdefault(key.rpartition(":")[2], []).append(key)
    reached = set()
    todo = [key for name in seen for key in by_name.get(name, ())]
    while todo:
        key = todo.pop()
        if key not in reached:
            reached.add(key)
            todo.extend(k for name in defs[key] for k in by_name.get(name, ()))
    return sorted(set(defs) - reached)


def test_no_package_def_only_tests_reach():
    pkg = ROOT / PACKAGE
    package = {
        rel[len(PACKAGE) + 1 :]: tree for rel, tree in _sources(pkg)
    }
    callers = [
        tree
        for path in CALLER_PATHS
        for rel, tree in (
            _sources(ROOT / path)
            if (ROOT / path).is_dir()
            else [(path, ast.parse((ROOT / path).read_text()))]
        )
        if not rel.startswith("perfbench/tests/")
    ]
    unreached = _unreached_defs(package, callers)
    assert unreached == sorted(TEST_ONLY_ALLOWED), (
        "package defs no caller outside tests reaches — delete them or move "
        f"them into tests/: {sorted(set(unreached) - set(TEST_ONLY_ALLOWED))}; "
        f"stale allowlist entries: {sorted(set(TEST_ONLY_ALLOWED) - set(unreached))}"
    )


def test_reachability_scan_on_planted_tree():
    package = {
        "__init__.py": "from pkg.ops import reexported\n",
        "ops.py": (
            "LIMIT = 4\n"
            "def entry_op(x):\n    return _helper(x)\n"
            "def _helper(x):\n    return x < LIMIT\n"
            "def only_tests():\n    pass\n"
            "def reexported():\n    pass\n"
        ),
    }
    # a test module calling only_tests() is not a caller: tests never root
    callers = ["from pkg.ops import entry_op\nentry_op(1)\n"]
    unreached = _unreached_defs(
        {rel: ast.parse(src) for rel, src in package.items()},
        [ast.parse(src) for src in callers],
    )
    # reached through a reached def (_helper, LIMIT): not reported; named
    # only by a test, or only re-exported by __init__: reported
    assert unreached == ["ops.py:only_tests", "ops.py:reexported"]


# The extra-column type table is the one place that knows a type: no
# other package module may use the decimal parser or a blob etype id, or
# compare a value against a type name (token_dtype's "int64" aside).
TYPE_TABLE = "copybook_rs_spark/etypes.py"
TYPE_TABLE_NAMES = {"decimal_params", "_DECIMAL_RE", "_DECIMAL_ID"}
TYPE_NAMES = {"int64", "float32", "float64", "string"}


def _type_facts(tree):
    """Every per-type fact a module holds of its own: a use of a name only
    the type table may hold, or a comparison against a type-name literal."""
    for node in ast.walk(tree):
        name = getattr(node, "id", None) or getattr(node, "attr", None)
        if isinstance(node, ast.alias):
            name = node.name
        if name in TYPE_TABLE_NAMES or (name or "").startswith("ETYPE_"):
            yield name
        if isinstance(node, ast.Compare):
            if getattr(node.left, "attr", None) == "token_dtype":
                continue
            for side in (node.left, *node.comparators):
                for c in ast.walk(side):
                    if isinstance(c, ast.Constant) and isinstance(c.value, str) and (
                        c.value in TYPE_NAMES or c.value.startswith("decimal")
                    ):
                        yield c.value
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "startswith"
            and any(getattr(a, "value", None) == "decimal" for a in node.args)
        ):
            yield "startswith('decimal')"


def test_extra_type_facts_live_in_the_type_table():
    found = sorted(
        (rel, fact)
        for rel, tree in _sources(ROOT / PACKAGE)
        if rel != TYPE_TABLE
        for fact in _type_facts(tree)
    )
    assert found == [], f"per-type facts outside {TYPE_TABLE}: {found}"


def test_type_fact_scan_on_planted_module():
    src = (
        "from copybook_rs_spark.config import decimal_params\n"
        "def width(etype, cfg):\n"
        "    if cfg.token_dtype == 'int64':\n        return 8\n"
        "    if etype == 'string' or etype in ('float32', 'float64'):\n"
        "        return blob.ETYPE_STRING\n"
        "    return decimal_params(etype) or etype.startswith('decimal')\n"
    )
    # token_dtype's comparison is not a type fact; everything else is
    assert sorted(_type_facts(ast.parse(src))) == sorted([
        "decimal_params", "decimal_params", "string", "float32", "float64",
        "ETYPE_STRING", "startswith('decimal')",
    ])
