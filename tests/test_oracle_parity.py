"""Driver-gate rehearsal: every registered query with an oracle must
hash-match DuckDB at sf0.01 (the exact scale the driver checks)."""

from __future__ import annotations

import pytest

from goose_spark.queries import load_all
from tests.conftest import SF_CORRECT
from tests.oracle_utils import compare

REGISTRY = load_all()
NAMES = sorted(REGISTRY)

#: The slice the default run keeps: every job-ledger query (``qj*``,
#: the family the benchmark's traced run also checks) plus one query of
#: each other family. The rest are marked 'slowsuite', which pytest.ini
#: deselects by default; tools/partest.py and 'pytest -m ""' run all.
DEFAULT_SLICE = {n for n in NAMES if n.startswith("qj")} | {
    "q02_filter_conjunctive", "tx1_token_counts", "ss1_cosine_topk_bruteforce",
    "sp1_hash_split", "dd1_exact_dedup", "mm1_multimodal_features",
    "qg1_reachability_bfs", "ev1_funnel",
}
assert DEFAULT_SLICE <= set(NAMES), DEFAULT_SLICE - set(NAMES)


@pytest.mark.parametrize("name", [
    n if n in DEFAULT_SLICE else pytest.param(n, marks=pytest.mark.slowsuite)
    for n in NAMES
])
def test_query_matches_oracle(name, spark, oracle):
    spec = REGISTRY[name]
    df = spec.builder(spark, SF_CORRECT)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver
        return
    problems = compare(df, oracle, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)
