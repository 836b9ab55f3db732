"""bench.py's harness argument checks, which run before any Spark work."""

import pytest

import bench


def test_interleaved_scaling_rejects_empty_chunks():
    """40 rows cannot fill 8 slices of 8-row blocks: every chunk would be
    empty, so the harness refuses instead of timing nothing."""
    with pytest.raises(ValueError, match="too small"):
        bench.run_scaling_interleaved(40, n_slices=8)
