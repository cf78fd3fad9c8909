"""Benchmark inputs: the repo's read-only seed-42 testdata."""
from __future__ import annotations

import os
import re

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def testdata_dir(root: str, sf: str) -> str:
    """Directory of the read-only testdata at scale ``sf`` ("0.01",
    "0.1"). ``$PERFBENCH_TESTDATA`` names their parent; by default the
    location documented in the repo's TESTDATA.md is used."""
    base = os.environ.get("PERFBENCH_TESTDATA")
    if base:
        return os.path.join(base, f"sf{sf}")
    with open(os.path.join(root, "TESTDATA.md")) as f:
        text = f.read()
    m = re.search(r"`([^`]*/sf" + re.escape(sf) + r")/?`", text)
    if not m:
        raise FileNotFoundError(f"TESTDATA.md names no sf{sf} directory")
    return m.group(1)
