"""The engine reads only the environment variables listed here. Plan and
session choices are code or CrawlConfig fields, never environment switches,
and the session sets only confs that differ from Spark's defaults."""

from __future__ import annotations

import ast
import pathlib

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "WS_DEBUG_TIMING"}
ENGINE = pathlib.Path(__file__).resolve().parent.parent / "webscraper_spark"


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ" and (
        isinstance(node.value, ast.Name) and node.value.id == "os"
    )


def _env_keys(tree: ast.AST):
    """(lineno, key) of every os.environ[...], os.environ.get(...) and
    os.getenv(...) read; key is None when it is not a string literal."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args:
            f = node.func
            if (f.attr == "get" and _is_environ(f.value)) or (
                f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
            ):
                key = node.args[0]
        if key is not None:
            yield node.lineno, key.value if isinstance(key, ast.Constant) else None


def test_engine_reads_only_allowed_env_vars():
    files = sorted(ENGINE.rglob("*.py"))
    assert files
    bad = [
        f"{path.relative_to(ENGINE.parent)}:{line}: {key!r}"
        for path in files
        for line, key in _env_keys(ast.parse(path.read_text(), str(path)))
        if key not in ALLOWED
    ]
    assert not bad, "environment reads outside the allowed set:\n" + "\n".join(bad)


def test_scan_finds_every_read_form():
    src = (
        "import os\n"
        "a = os.environ['A']\n"
        "b = os.environ.get('B', '1')\n"
        "c = os.getenv('C')\n"
        "d = os.environ.get(name)\n"
        "e = {}.get('E')\n"
    )
    assert [k for _, k in _env_keys(ast.parse(src))] == ["A", "B", "C", None]


def test_session_restates_no_spark_default(spark):
    """get_spark sets no spark.sql conf to the value Spark gives it anyway,
    leaves spark.default.parallelism to local[N], and turns the console
    progress bar off: its carriage-return output garbles any log that
    takes both stdout and stderr."""
    conf = dict(spark.sparkContext.getConf().getAll())
    assert conf["spark.ui.showConsoleProgress"] == "false"
    assert "spark.default.parallelism" not in conf
    defaults = spark._jvm.org.apache.spark.sql.internal.SQLConf()
    restated = {
        k: v
        for k, v in conf.items()
        # the time zone's default is the host's zone; UTC is pinned on every host
        if k.startswith("spark.sql.") and k != "spark.sql.session.timeZone" and defaults.getConfString(k) == v
    }
    assert not restated, restated
