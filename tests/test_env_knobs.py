"""Inventory of the package's ``HDFE_*`` environment options.

Every operator has one code path; the only environment options left
are data-driven sizing knobs (gates, caps, widths). A new name here —
for instance a kill-switch that keeps an old plan alive beside a new
one — must be added to this list on purpose, in review.
"""

import pathlib
import re

_KEPT = {
    "HDFE_AP_DRIVER_LEVELS_MAX",
    "HDFE_AP_DRIVER_NNZ_MAX",
    "HDFE_PY_STAGE_PARTITIONS",
    "HDFE_PY_STAGE_TARGET_BYTES",
    "HDFE_SCOPED_PERSIST_CAP",
    "HDFE_DML_TREE2_CELLS_MAX",
    "HDFE_MAX_POSTING",
}


def test_env_knobs_are_exactly_the_data_driven_set():
    pkg = pathlib.Path(__file__).resolve().parents[1] / "hdfe_spark"
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        for name in re.findall(r"HDFE_[A-Z0-9_]+", path.read_text(encoding="utf-8")):
            found.setdefault(name, path.relative_to(pkg.parent).as_posix())
    assert set(found) == _KEPT, {
        "unexpected": {n: found[n] for n in set(found) - _KEPT},
        "missing": sorted(_KEPT - set(found)),
    }
