"""One layout mechanism: only ``operators/tuning.py`` (run-time loop
scopes) and ``session.py`` (session defaults) may set
``spark.sql.shuffle.partitions`` or a ``spark.sql.adaptive.*`` key.
Query paths and operators read the layout; they never change it."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "docvault_ocr_service_spark")
ALLOWED = {os.path.join(PKG, "operators", "tuning.py"),
           os.path.join(PKG, "session.py")}
SETTERS = {"set", "unset", "config"}


def _is_layout_key(value) -> bool:
    return isinstance(value, str) and (
        value == "spark.sql.shuffle.partitions"
        or value.startswith("spark.sql.adaptive."))


def _layout_setters(path: str) -> list[str]:
    """Lines of ``path`` that set a layout key: a conf setter call whose
    first argument is a layout key (literal or module-level constant),
    or a dict literal keyed by one (``extra_conf``)."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    consts = {t.id for node in ast.walk(tree)
              if isinstance(node, ast.Assign)
              and isinstance(node.value, ast.Constant)
              and _is_layout_key(node.value.value)
              for t in node.targets if isinstance(t, ast.Name)}

    def layout_arg(node) -> bool:
        return ((isinstance(node, ast.Constant)
                 and _is_layout_key(node.value))
                or (isinstance(node, ast.Name) and node.id in consts))

    hits = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in SETTERS
                and node.args and layout_arg(node.args[0])):
            hits.append(node.lineno)
        elif isinstance(node, ast.Dict) and any(
                k is not None and layout_arg(k) for k in node.keys):
            hits.append(node.lineno)
    return [f"{os.path.relpath(path, REPO)}:{n}" for n in sorted(hits)]


def _scanned_files() -> list[str]:
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, names in os.walk(PKG):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    return sorted(files)


def test_only_tuning_and_session_set_layout_conf():
    offenders = [hit for path in _scanned_files() if path not in ALLOWED
                 for hit in _layout_setters(path)]
    assert offenders == [], (
        "layout conf set outside operators/tuning.py / session.py: "
        + ", ".join(offenders))


def test_lint_sees_every_setter_form(tmp_path):
    """The scan itself: each form a layout change can take is caught,
    and reading the layout is not."""
    src = tmp_path / "sample.py"
    src.write_text(
        'KEY = "spark.sql.adaptive.enabled"\n'
        'spark.conf.set("spark.sql.shuffle.partitions", "4")\n'
        'spark.conf.unset(KEY)\n'
        'get_spark(extra_conf={"spark.sql.adaptive.x": "1"})\n'
        'n = spark.conf.get("spark.sql.shuffle.partitions")\n')
    assert [h.rsplit(":", 1)[1] for h in _layout_setters(str(src))] \
        == ["2", "3", "4"]
    assert os.path.join(PKG, "operators", "tuning.py") in _scanned_files()
