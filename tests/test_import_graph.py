"""Import-graph guard for the CDC core.

The engine (``operators``, ``pipeline``, ``sinks``, ``sources``,
``streaming``) has one change path: frames → fused typed decode →
commit gate → fold → merge.  Two static properties keep it that way:

* the core never imports the query-function tier
  (``pg_pb3_ld_spark.functions``);
* the core reaches the wire codec only through ``decode_frame_typed``
  — the generic array-column entry points (``decode_frames``,
  ``decode_frame_buffer``) are the codec-level API for tests and
  tools, not a second engine path.

Checked on the source with ``ast`` (every import, including those
inside functions), so no Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pg_pb3_ld_spark

PKG = Path(pg_pb3_ld_spark.__file__).parent
CORE = ("operators", "sinks", "sources", "streaming", "pipeline.py")
GENERIC_DECODE = {"decode_frames", "decode_frame_buffer"}


def _core_files() -> list[Path]:
    out = []
    for part in CORE:
        p = PKG / part
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    # a moved package must not turn the checks below into no-ops
    names = {p.relative_to(PKG).as_posix() for p in out}
    assert {"pipeline.py", "operators/decode.py", "sinks/store.py",
            "streaming/runner.py", "sources/frames.py"} <= names
    return out


def _tree(path: Path) -> ast.AST:
    return ast.parse(path.read_text(), str(path))


def _imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, imported name or None) for every import in ``path``."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path}: relative import"
            out += [(node.module or "", a.name) for a in node.names]
    return out


def _resolved(mod: str, name: str | None) -> str:
    return f"{mod}.{name}" if name else mod


def test_core_never_imports_functions_tier():
    bad = [
        (p.relative_to(PKG).as_posix(), _resolved(m, n))
        for p in _core_files()
        for m, n in _imports(p)
        if _resolved(m, n).startswith("pg_pb3_ld_spark.functions")
    ]
    assert bad == []


def test_core_reaches_codec_only_through_typed_decode():
    codec_names = set()
    bad = []
    for p in _core_files():
        rel = p.relative_to(PKG).as_posix()
        for m, n in _imports(p):
            full = _resolved(m, n)
            if full in ("pg_pb3_ld_spark.pb3", "pg_pb3_ld_spark.pb3.decoder"):
                bad.append((rel, full))  # whole-module import
            elif m.startswith("pg_pb3_ld_spark.pb3") and n and (
                n.startswith("decode")
            ):
                codec_names.add(n)
        # attribute access (``decoder.decode_frames``) counts too
        for node in ast.walk(_tree(p)):
            if isinstance(node, ast.Attribute) and node.attr in GENERIC_DECODE:
                bad.append((rel, node.attr))
    assert bad == []
    assert codec_names == {"decode_frame_typed"}
