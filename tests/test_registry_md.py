"""CI freshness gate for REGISTRY.md (VERDICT r3 #8): the committed
index must match a live regeneration — every registered query appears
with its current file::function, oracle status, headline membership, and
exchange budget. No Spark session needed."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from gen_registry_md import build_registry_md  # noqa: E402


def test_registry_md_is_fresh():
    with open(os.path.join(REPO, "REGISTRY.md")) as fh:
        committed = fh.read()
    live = build_registry_md()
    assert committed == live, (
        "REGISTRY.md is stale — run `python tools/gen_registry_md.py` "
        "and commit the result"
    )
