"""Every package module compiles with warnings as errors.

An invalid escape sequence in a string is a SyntaxWarning (a
DeprecationWarning before Python 3.12) today and a SyntaxError in a
later Python; compiling each source under "error" catches it before an
import does.
"""

from __future__ import annotations

import pathlib
import warnings

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "gdal_spark"
SOURCES = sorted(PKG.rglob("*.py"))


def test_package_has_sources():
    assert len(SOURCES) > 100


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(PKG)))
def test_module_compiles_without_warnings(path):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(path.read_text(encoding="utf-8"), str(path), "exec")
