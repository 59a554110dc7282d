"""The home-grown ``deltalite`` log format is retired: Delta tables are
``DeltaProtocolTable``. No library module or script may import or name
it again (a second Delta-style format is exactly the duplicate the
retirement removed)."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_no_module_names_deltalite():
    offenders = [
        str(p.relative_to(ROOT))
        for d in ("featureform_spark", "scripts")
        for p in sorted((ROOT / d).rglob("*.py"))
        if re.search(r"deltalite", p.read_text(), re.I)
    ]
    assert offenders == []
