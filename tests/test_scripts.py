"""Every script under scripts/ must import cleanly: a helper it uses
that is renamed or deleted in the package fails here instead of
silently breaking the script.  Scripts do their work only under a
``__main__`` guard, so importing one runs no Spark job."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

SCRIPTS = sorted((pathlib.Path(__file__).parent.parent / "scripts").glob("*.py"))


@pytest.mark.parametrize("path", SCRIPTS, ids=[p.stem for p in SCRIPTS])
def test_script_imports(path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert "__main__" in path.read_text()
