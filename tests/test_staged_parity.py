"""Oracle parity for STAGED queries — the same harness as
tests/test_parity.py (``conftest.assert_parity`` resolves a name in
either registry), so a staged query is held to the same oracle
check as a live query without occupying a correctness-window slot."""

from __future__ import annotations

import pytest

from dist_map_reduce_spark import registry
from tests.conftest import assert_parity

registry.load_all()


@pytest.mark.parametrize("name", sorted(registry.STAGED_ORACLES))
def test_staged_oracle_parity(spark, duck, name):
    assert_parity(spark, duck, name)
