"""Repo-local scratch directory (registration-free).

Extracted from ``operators/sources_sinks.py`` so modules that only
need a scratch path (streaming bindings, the ORC round-trip) don't
import that module's queries.
"""

from __future__ import annotations

import os

# repo-local scratch (gitignored); never touches /root/testdata
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def scratch_path(sf_dir: str, name: str) -> str:
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(SCRATCH, sf_tag, name)
