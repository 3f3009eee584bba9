from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyrdfa3_spark.session import build_session

    s = build_session(master="local[4]", app_name="pyrdfa3_spark-tests",
                      shuffle_partitions=8,
                      max_partition_bytes=8 << 20)
    yield s
    s.stop()


@pytest.fixture
def reach_regimes(monkeypatch):
    """Runs a test body once per regime of the reachability evaluator
    (``graphops._reach``): ``for regime in reach_regimes(): ...``.
    The regimes are the driver-side slice, the ``IN``-list walk (no
    slice fits) and the frame loop (no slice and no node fits).  A
    body that reaches anything must take the frame loop exactly in
    the last regime."""
    from pyrdfa3_spark.operators import graphops as G

    def regimes():
        frames = []
        real = G._reach_frames
        for regime, slice_rows, max_nodes in (
                ("slice", G._SLICE_ROWS, G._WALK_MAX_NODES),
                ("walk", 0, G._WALK_MAX_NODES),
                ("frames", 0, 0)):
            with monkeypatch.context() as m:
                m.setattr(G, "_SLICE_ROWS", slice_rows)
                m.setattr(G, "_WALK_MAX_NODES", max_nodes)
                m.setattr(G, "_reach_frames", lambda *a: (
                    frames.append(regime), real(*a))[1])
                yield regime
        assert set(frames) == {"frames"}, frames
    return regimes
