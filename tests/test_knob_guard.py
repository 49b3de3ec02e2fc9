"""Knob-creep guard: engine tunables are constants in code.

Environment reads in the package may name only the three deployment
settings, and only `session.get_spark` and the two spark-submit jobs
build a SparkSession, so no script carries its own session config."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
DEPLOYMENT_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_LOCAL_DIR", "SPARK_DRIVER_MEM"}
BUILDER_FILES = {
    "copybook_rs_spark/session.py",
    "scripts/decode_job.py",
    "scripts/encode_job.py",
}


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
