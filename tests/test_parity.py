"""Oracle parity inside pytest: the dedup / ANN family's queries()
entries must equal their oracle_sql() rows on DuckDB at the smoke-tier
scale, through the same comparison tools/parity_check.py runs."""

import os

import pytest

from tests.spark_fixtures import spark  # noqa: F401

from bench import SF_DIR

# the smoke-tier fixture next to the bench one (see TESTDATA.md)
SMOKE_SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


@pytest.mark.parity
@pytest.mark.skipif(not os.path.isdir(SMOKE_SF),
                    reason=f"no fixture at {SMOKE_SF}")
def test_ann_dedup_family_matches_oracle(spark):  # noqa: F811
    import __spark_entry__ as entry
    from tools.parity_check import check_parity
    family = [n for n in entry.queries()
              if n.startswith(("ann_", "dedup_")) or n == "quality_recall"]
    assert len(family) == 14
    results = list(check_parity(spark, SMOKE_SF, family))
    assert [name for _, name, _ in results] == family
    assert [r for r in results if r[0] != "OK"] == []
