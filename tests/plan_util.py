"""Plan-shape test helpers.

Every lineage cut in the engine goes through
``sparkprep.checkpointing._checkpoint``. A cut truncates ``explain()``
to ``Scan ExistingRDD``, so a test that asserts what sits below one
builds its frame inside :func:`no_lineage_cuts`."""

from __future__ import annotations

from contextlib import contextmanager


def simple_plan(df) -> str:
    """Physical plan tree WITHOUT the formatted details section (which
    repeats every node's arguments and breaks occurrence counting)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


@contextmanager
def no_lineage_cuts():
    """Build frames with every lineage cut replaced by the identity, so
    their plans show the full tree. The session's shared-frame cache is
    cleared on entry (a cached frame would still be cut) and on exit (an
    uncut frame must not serve later production-shaped calls)."""
    from sparkprep import checkpointing
    from sparkprep.queries import shared_frames

    original = checkpointing._checkpoint
    shared_frames.reset()
    checkpointing._checkpoint = lambda df: df
    try:
        yield
    finally:
        checkpointing._checkpoint = original
        shared_frames.reset()
