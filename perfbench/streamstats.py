"""streaming.* numbers from Structured Streaming progress reports."""

from __future__ import annotations

_MB = 1024 * 1024


def progress_numbers(progress: list) -> dict[str, float]:
    """Per-batch means of the trigger phases, state-store size at the last
    batch, and rows the watermark dropped, over batches that read input."""
    n = len(progress)
    out = {"streaming.batches": float(n)}
    if not n:
        return out

    def mean_phase(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / n

    out["streaming.batch_ms"] = mean_phase("triggerExecution")
    out["streaming.add_batch_ms"] = mean_phase("addBatch")
    out["streaming.planning_ms"] = mean_phase("queryPlanning")
    out["streaming.latest_offset_ms"] = mean_phase("latestOffset")
    out["streaming.wal_commit_ms"] = mean_phase("walCommit")
    out["streaming.commit_ms"] = mean_phase("commitOffsets")
    ops_last = progress[-1]["stateOperators"] or []
    out["streaming.state_rows"] = float(sum(o["numRowsTotal"] for o in ops_last))
    out["streaming.state_mem_mb"] = sum(o["memoryUsedBytes"] for o in ops_last) / _MB
    out["streaming.state_commit_ms"] = sum(
        o["commitTimeMs"] for p in progress for o in (p["stateOperators"] or [])
    ) / n
    out["streaming.watermark_dropped_rows"] = float(sum(
        o.get("numRowsDroppedByWatermark", 0) for p in progress
        for o in (p["stateOperators"] or [])
    ))
    return out
