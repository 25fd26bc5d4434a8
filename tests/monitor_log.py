"""Helpers for the monitor-log tests (``streaming/rollup_log.py``): a real
at-least-once replay of a stream's last batch, and the fresh-checkpoint
refusal."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException


def replay_last_batch(checkpoint, run) -> None:
    """Delete the checkpoint's newest commit entry and ``run()`` the stream
    on the same checkpoint: Spark re-runs that batch with its recorded
    offsets, as after a crash between the sink write and the commit.
    Asserts that the batch did re-run."""
    commits = Path(checkpoint) / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    for name in (str(last), f".{last}.crc"):
        (commits / name).unlink(missing_ok=True)
    run()
    assert (commits / str(last)).exists(), "the uncommitted batch did not re-run"


def log_state(root) -> dict:
    """Every file under the log with its size and mtime."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def assert_refused(run, root) -> None:
    """``run()`` streams into the log at ``root`` from a FRESH checkpoint:
    the stream fails with the log's typed error and the log is unchanged."""
    before = log_state(root)
    with pytest.raises(StreamingQueryException, match="RollupLogError"):
        run()
    assert log_state(root) == before
