"""Pins on the source tree itself (no Spark session needed).

* The committed ``ext/simspark-ext.jar`` must be the build of the
  committed Scala source: ``ext/build.sh`` stores the source's sha256 in
  the jar as the resource ``simspark/source.sha256``. After editing
  ``ext/src``, run ``ext/build.sh`` and commit the jar.
* No module under ``sim_spark/`` may catch ``Exception``,
  ``BaseException`` or everything (bare ``except:``): each handler names
  the error its call can raise, so a wrong code path is never hidden.
"""

from __future__ import annotations

import ast
import hashlib
import pathlib
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_ext_jar_matches_its_source():
    src = ROOT / "ext" / "src" / "SimSparkExtensions.scala"
    with zipfile.ZipFile(ROOT / "ext" / "simspark-ext.jar") as jar:
        pinned = jar.read("simspark/source.sha256").decode().strip()
    assert pinned == hashlib.sha256(src.read_bytes()).hexdigest(), (
        "ext/simspark-ext.jar was not built from ext/src: run ext/build.sh"
    )


def _broad(handler: ast.ExceptHandler) -> bool:
    if handler.type is None:
        return True
    types = handler.type.elts if isinstance(handler.type, ast.Tuple) else [handler.type]
    return any(
        isinstance(t, ast.Name) and t.id in ("Exception", "BaseException")
        for t in types
    )


def test_no_broad_exception_handlers():
    found = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path in sorted((ROOT / "sim_spark").rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.ExceptHandler) and _broad(node)
    ]
    assert not found, found
