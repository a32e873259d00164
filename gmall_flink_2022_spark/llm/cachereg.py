"""Shared registry for materialized intermediates whose storage must
outlive the function that created them (lazy plans returned to the
caller).

The curation pipelines and the dedup pre-collapses materialize frames
that several downstream subtrees read; the plans they return are lazy,
so the creating function cannot free that storage itself. This module
is the one lifecycle surface for it, with one registry list:

- :func:`track` — persist a frame and register it (thread-safe; warns
  once past a soft threshold so a long-lived session that never
  releases is visibly leaking instead of silently accumulating executor
  memory);
- :func:`stage` — the phase boundary of a composed pipeline: run the
  phase once into an eager ``localCheckpoint`` and register the
  resulting leaf;
- :func:`release_all` — free every registered frame: a tracked frame's
  cache, or a staged frame's checkpoint blocks.
"""

from __future__ import annotations

import threading
import warnings

from pyspark.sql import DataFrame

_LOCK = threading.RLock()
#: every registered frame: persisted (``track``) or checkpointed (``stage``)
_LIVE: list[DataFrame] = []

#: soft bound: past this many live registered frames a warning fires
#: (once per crossing) — the session is accumulating materialized
#: intermediates without releasing them
WARN_THRESHOLD = 32


def _register(df: DataFrame) -> DataFrame:
    with _LOCK:
        _LIVE.append(df)
        if len(_LIVE) == WARN_THRESHOLD + 1:
            warnings.warn(
                f"llm.cachereg: {len(_LIVE)} materialized intermediates are "
                "live — call release_all() after materializing results",
                ResourceWarning,
                stacklevel=3,
            )
    return df


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for a later release."""
    return _register(df.persist())


def stage(df: DataFrame) -> DataFrame:
    """Cut a phase boundary: execute ``df`` once into an eager
    ``localCheckpoint`` and register the checkpointed frame.

    Why a checkpoint and not just a persist: ``persist`` dedupes
    execution, but every downstream reuse still embeds the full analyzed
    tree — the training-shards manifest reached 10,682 analyzed nodes
    (doubling at each reuse) and paid ~7 s of driver-side analysis per
    action. The checkpoint turns the phase into a leaf (``LogicalRDD``)
    for every consumer, so downstream plans stay a few dozen nodes.

    The phase runs here, at build time, planned under the session's own
    AQE setting (partition coalescing and skew-join splitting apply
    inside the phase), and never again: later actions read the
    checkpoint blocks. Rows and schema are those of ``df``.
    :func:`release_all` frees the blocks; the leaf has no lineage, so a
    plan that reads it cannot run after the release."""
    return _register(df.localCheckpoint())


def release_all() -> None:
    """Free every registered frame. A tracked frame is unpersisted — a
    consumer that re-reads it just recomputes it. A staged frame drops
    its checkpoint blocks (RDD-level cache, which
    ``Dataset.unpersist``/``catalog.clearCache`` never see); its lineage
    was truncated, so re-running a plan that reads it raises. Release
    only after the pipeline's results are materialized."""
    with _LOCK:
        live, _LIVE[:] = _LIVE[:], []
    for df in live:
        if df.is_cached:
            df.unpersist()
        else:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
