"""Inventory of ``tools/``.

Each file there has a named user: the whole-registry oracle gate
(``check_oracle.py``, ``full_gate.sh``), the ``plans/`` evidence
(``capture_plans.py``) and the synthetic scale harness whose results
SCALE.md records (``scale_stress.py``). A new script must be added to
this list on purpose. Nothing imports these scripts, so each one is
byte-compiled here to keep it from rotting unseen.
"""

import pathlib
import py_compile

import pytest

_TOOLS = pathlib.Path(__file__).resolve().parents[1] / "tools"

_KEPT = {
    "capture_plans.py",
    "check_oracle.py",
    "full_gate.sh",
    "scale_stress.py",
}


def test_tools_are_exactly_the_kept_set():
    found = {p.name for p in _TOOLS.iterdir() if p.is_file()}
    assert found == _KEPT, {
        "unexpected": sorted(found - _KEPT),
        "missing": sorted(_KEPT - found),
    }


@pytest.mark.parametrize("name", sorted(n for n in _KEPT if n.endswith(".py")))
def test_tool_compiles(name, tmp_path):
    py_compile.compile(
        str(_TOOLS / name), cfile=str(tmp_path / "out.pyc"), doraise=True
    )
