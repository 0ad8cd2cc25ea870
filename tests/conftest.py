from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from social_media_data_pipeline_recession_political_sentiment_spark.session import (  # noqa: E402
    get_session,
)

SF_SMOKE = "/root/testdata/sf0.001"

# pytest gets its OWN sweep-fixture dir: an interactive
# tools/degen_sweep.py run concurrent with the suite must not
# rmtree the fixture out from under the sweep smoke test
os.environ.setdefault("SMDP_DEGEN_DIR", "/tmp/smdp_degen_pytest")


@pytest.fixture(scope="session")
def spark():
    s = get_session("pytest", cpus=4)
    yield s
    s.stop()


def union_find_components(nodes, edges) -> dict:
    """Pure-Python connected-components reference: {node: min node
    reachable}. Unions always hang the larger root under the smaller,
    so every root is the minimum of its component."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}
